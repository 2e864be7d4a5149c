package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ext.{AnnIndex, IvfPq}
import graft.functions.CosineSimilarity

/** Trained-IVF ANN: index shape, probe pruning, recall against the
  * brute-force baseline, and the driver-probe + `TopK.cosine` search
  * against the crossJoin/window plan it replaced, kept here as the
  * reference (the ExactKernelSpec pattern).
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
    // and the search's own candidate read over the loaded index lists
    // only the cells one query at nProbe = 3 of 8 probes
    val q0 = queries.filter(col("q_id") === 0).collect()
      .map(_.getSeq[Float](1).toArray).head
    val cells = IvfPq.probe(loaded.cents, q0, 3).toSeq.sorted
    assert(cells.length === 3)
    val scan = AnnIndex.candidates(loaded, cells).queryExecution.sparkPlan
      .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .getOrElse(fail("no file scan under the candidate pass"))
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "cell")),
      s"no cell PartitionFilter: ${scan.partitionFilters}")
    val read = scan.selectedPartitions.toPartitionArray
      .map(p => new java.io.File(p.filePath.toPath.toUri.getPath).getParentFile.getName).toSet
    assert(read.nonEmpty && read.subsetOf(cells.map(c => s"cell=$c").toSet),
      s"read $read, probed $cells")
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

  /** The replaced plan: probe ranking by a crossJoin with the centroids
    * and a `row_number` window over (c_sim desc, cell), then a join on
    * `cell` and a second window over (cos_r desc, vec_id).
    */
  private def referenceSearch(index: AnnIndex.Index, queries: DataFrame, topK: Int,
      nProbe: Int, excludeSelf: Boolean): DataFrame = {
    CosineSimilarity.ensureRegistered(spark)
    val qCells = queries
      .crossJoin(broadcast(index.centroids))
      .withColumn("c_sim", expr("cosine_sim(q_emb, centroid)"))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("c_sim").desc, col("cell"))))
      .filter(col("crn") <= nProbe)
      .select(col("q_id"), col("q_emb"), col("cell"))
    qCells.join(index.assigned, Seq("cell"))
      .filter(if (excludeSelf) col("q_id") =!= col("vec_id") else lit(true))
      .withColumn("cos_r", round(expr("cosine_sim(q_emb, embedding)"), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("vec_id"))))
      .filter(col("rn") <= topK)
      .select(col("q_id"), col("vec_id"), col("cos_r"), col("rn"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** (q_id, vec_id, cos_r bits, rn) rows, −0.0-strict, NaN as one value. */
  private def bits(df: DataFrame): Seq[(Long, Long, Long, Int)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getInt(3)))

  /** Search vs reference, in (q_id, rn) order, at nProbe = 1, 3, k and
    * k + 2, topK = 1, 5 and beyond the corpus, self exclusion on/off.
    */
  private def assertSame(idx: AnnIndex.Index, queries: DataFrame, what: String): Unit = {
    val n = idx.assigned.count().toInt
    for (p <- Seq(1, 3, idx.k, idx.k + 2); k <- Seq(1, 5, n + 5); self <- Seq(true, false)) {
      val ctx = s"$what nProbe=$p topK=$k excludeSelf=$self"
      val got = bits(AnnIndex.search(idx, queries, k, p, self))
      assert(got.nonEmpty, ctx)
      assert(got === bits(referenceSearch(idx, queries, k, p, self)), ctx)
    }
  }

  test("search equals the crossJoin/window plan on the fixture corpus") {
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    assertSame(index, queries, "fixture")
  }

  test("search equals the crossJoin/window plan on duplicated vectors and a zero query") {
    val base = Seq(Array(1f, 0f, 0f), Array(0f, 1f, 0f), Array(1f, 1f, 0f),
      Array(-1f, 0f, 2f), Array(0f, 0f, 0f))
    // every vector three times under different ids, interleaved
    val corpus = spark.createDataFrame(java.util.Arrays.asList(
        (0 until 15).map(i => Row(i.toLong * 3 % 17, base(i % base.length).toSeq)): _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))))).repartition(3)
    val queries = spark.createDataFrame(java.util.Arrays.asList(Seq(
        (0L, Array(1f, 0f, 0f)),   // a corpus id: self exclusion applies
        (6L, Array(0f, 0f, 0f)),   // a zero query: every cosine is NaN
        (40L, Array(1f, 1f, 0f)),  // outside the corpus's id space
        (41L, Array(2f, 2f, 0f)))  // the same direction, scaled
        .map { case (id, v) => Row(id, v.toSeq) }: _*),
      StructType(Seq(StructField("q_id", LongType),
        StructField("q_emb", ArrayType(FloatType)))))
    assertSame(AnnIndex.build(spark, corpus, k = 3), queries, "ties")
  }

  test("a search runs at most 2 Spark jobs, the same on every rep") {
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val reps = (1 to 3).map(_ => jobsOf(AnnIndex.search(index, queries, 5, 3).collect()))
    info(s"AnnIndex.search jobs per rep: ${reps.map(_._2)}")
    assert(reps.forall(_._2 <= 2) && reps.map(_._2).distinct.size === 1,
      s"jobs per rep: ${reps.map(_._2)}")
    assert(reps.forall(_._1.length === 50))
  }
}
