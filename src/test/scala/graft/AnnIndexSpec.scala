package graft

import org.apache.spark.sql.functions._
import graft.ext.AnnIndex

/** Trained-IVF ANN: index shape, probe pruning, and recall against the
  * brute-force baseline.
  */
class AnnIndexSpec extends SparkSpec {

  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
    .select(col("vec_id"), col("embedding"))
  private lazy val index = AnnIndex.build(spark, emb, k = 8)

  test("every vector lands in exactly one of k cells") {
    assert(index.assigned.count() === emb.count())
    val cells = index.assigned.select("cell").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(cells.subsetOf((0 until 8).toSet))
    assert(index.centroids.count() === 8)
  }

  test("probing all cells reproduces the exact brute-force top-5") {
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val exact = Registry.byName("q50_cosine_topk").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val full = AnnIndex.search(index, queries, topK = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(full === exact)
  }

  test("registered q79_ivf_topk: top-5 per query, high recall vs exact") {
    val rows = Registry.byName("q79_ivf_topk").fn(spark, sfDir).collect()
    assert(rows.length === 50) // 10 queries x top-5
    val exact = Registry.byName("q50_cosine_topk").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // nProbe=8 of 16 cells over 50 near-isotropic vectors (sf0.001) —
    // the worst case for IVF: neighbors scatter across cells, so this
    // is a recall FLOOR (observed 0.80, deterministic under the fixed
    // seed). Clustered real corpora reach far higher recall at the same
    // probe fraction; exact-equivalence at full probe is pinned above.
    assert(recall >= 0.75, s"recall=$recall")
  }

  test("saved index round-trips and a probe prunes cell partitions, not rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    AnnIndex.save(index, dir)
    val loaded = AnnIndex.load(spark, dir)
    assert(loaded.k === 8)
    // search over the reloaded index returns byte-identical neighbors
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val fromMem = AnnIndex.search(index, queries, topK = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val fromDisk = AnnIndex.search(loaded, queries, topK = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(fromDisk === fromMem)
    // the scale claim: a cell predicate must reach PartitionFilters
    // (directory pruning at file listing), not a row-level data filter
    staticPlan {
      val probe = loaded.assigned.filter(col("cell") === 3)
      val plan = probe.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val pf = plan.linesIterator.find(_.trim.startsWith("PartitionFilters:"))
      assert(pf.exists(_.contains("cell")), s"no partition filter on cell:\n$pf")
    }
  }

  test("nProbe=3 of 8 keeps recall@5 above 60% at ~3/8 of the scan") {
    // the fixture's embeddings are nearly isotropic (weak clusters),
    // so IVF recall here is a floor — real clustered corpora do better
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val exact = Registry.byName("q50_cosine_topk").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = AnnIndex.search(index, queries, topK = 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall=$recall")
  }
}
