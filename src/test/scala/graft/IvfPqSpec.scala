package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ext.{IvfPq, Quantizer}

/** Composed IVF-PQ (IVFADC): exactness at full probe, recall of the
  * registered pruned config, the driver-side search kernel row-identical
  * to the windowed expression search it replaced (kept below as the
  * reference), and the scale proofs — a probe over the saved index reads
  * only the probed cells' files, and a served-size search is at most
  * three Spark jobs.
  */
class IvfPqSpec extends SparkSpec {

  // the reference plans below score with the `cosine_sim` expression
  private lazy val emb = {
    graft.functions.CosineSimilarity.ensureRegistered(spark)
    Tables.load(spark, sfDir, "embeddings").select(col("vec_id"), col("embedding"))
  }
  private lazy val index = IvfPq.build(spark, emb, dim = 64, kCells = 8)

  private def queries = emb.filter(col("vec_id") < 10)
    .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  private def q50Pairs = Registry.byName("q50_cosine_topk").fn(spark, sfDir)
    .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("cells table carries one (cell, codes) row per vector") {
    assert(index.cells.count() === emb.count())
    val row = index.cells.head()
    assert(row.getAs[scala.collection.Seq[Int]]("codes").length === index.m)
  }

  test("full probe + corpus-wide shortlist reproduces q50 exactly (both modes)") {
    val n = emb.count().toInt
    val exact = Registry.byName("q50_cosine_topk").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    // exact-cosine re-rank with nothing pruned == the brute-force
    // baseline, rank for rank — the composition adds pruning, not
    // bias, whether codes quantize residuals (default) or raw vectors
    val full = IvfPq.search(index, emb, queries, topK = 5,
        nProbe = index.kCells, shortlist = n)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(full === exact)
    val flat = IvfPq.build(spark, emb, dim = 64, kCells = 8, residual = false)
    val fullFlat = IvfPq.search(flat, emb, queries, topK = 5,
        nProbe = flat.kCells, shortlist = n)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(fullFlat === exact)
    flat.close()
  }

  test("registered q133_ivfpq_topk: 50 rows, recall >= 0.9 vs q50") {
    val rows = Registry.byName("q133_ivfpq_topk").fn(spark, sfDir).collect()
    assert(rows.length === 50) // 10 queries x top-5
    val approx = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (q50Pairs & approx).size.toDouble / q50Pairs.size
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("saved index: the candidate scan prunes cell partitions statically") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    IvfPq.save(index, dir)
    val loaded = IvfPq.load(spark, dir)
    assert(loaded.kCells === index.kCells && loaded.m === index.m &&
      loaded.kCodes === index.kCodes && loaded.subDim === index.subDim)
    // search over the reloaded index returns the same neighbors
    val fromMem = IvfPq.search(index, emb, queries, nProbe = 8, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val fromDisk = IvfPq.search(loaded, emb, queries, nProbe = 8, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(fromDisk === fromMem)
    // the scale claim: the search's one pass over the disk index is
    // pruned at file listing by a static `cell` PartitionFilter, not a
    // row filter, and reads exactly the probed cells' files. One query
    // at nProbe = 3 of 8 probes a strict subset of the cells.
    val q0 = queries.filter(col("q_id") === 0).collect()
      .map(_.getSeq[Float](1).toArray).head
    val cells = IvfPq.probe(loaded, Quantizer.unit(q0), 3).toSeq.sorted
    assert(cells.length === 3)
    val scan = IvfPq.candidates(loaded, cells).queryExecution.sparkPlan
      .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .getOrElse(fail("no file scan under the candidate pass"))
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "cell")),
      s"no cell PartitionFilter: ${scan.partitionFilters}")
    val read = scan.selectedPartitions.toPartitionArray
      .map(_.filePath.toPath.toUri.getPath).toSet
    val probedFiles = cells.flatMap { c =>
      val cellDir = new java.io.File(s"$dir/cells.parquet/cell=$c")
      cellDir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath)
    }.toSet
    assert(probedFiles.nonEmpty && read === probedFiles)
  }

  test("encode through the standing quantizers reproduces the built codes") {
    // re-encoding the index's own corpus without any refit must land
    // every vector in its original cell with its original codes — the
    // invariant that makes incremental append sound
    val re = IvfPq.encode(index, emb).collect()
      .map(r => r.getLong(0) -> (r.getInt(1),
        r.getAs[scala.collection.Seq[Int]]("codes").toList)).toMap
    val built = index.cells.collect()
      .map(r => r.getLong(0) -> (r.getInt(1),
        r.getAs[scala.collection.Seq[Int]]("codes").toList)).toMap
    assert(re === built)
  }

  test("appended twins are found at rank 1 with cosine 1") {
    val twins = emb.select((col("vec_id") + 1000000).as("vec_id"),
      col("embedding"))
    val idx2 = IvfPq.append(index, twins)
    val all = emb.unionByName(twins)
    val got = IvfPq.search(idx2, all, queries, topK = 1,
        nProbe = idx2.kCells, shortlist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length === 10)
    got.foreach { case (q, v, cos) =>
      assert(v === q + 1000000, s"query $q rank-1 neighbor $v is not its twin")
      assert(cos === 1.0)
    }
  }

  test("close() after append releases the build-time cells cache") {
    // append swaps `cells` for a union frame the cache manager has
    // never seen — close() must still unpersist the frame build()
    // pinned, or every index generation leaks a MEMORY_AND_DISK table
    val idx = IvfPq.build(spark, emb, dim = 64, kCells = 8)
    val built = idx.cells
    assert(built.storageLevel.useMemory, "build() did not pin cells")
    val idx2 = IvfPq.append(idx,
      emb.select((col("vec_id") + 2000000).as("vec_id"), col("embedding")))
    idx2.close()
    assert(built.storageLevel ===
      org.apache.spark.storage.StorageLevel.NONE,
      "close() on the appended index left the build-time cache pinned")
  }

  test("excludeSelf dial: foreign-id-space queries keep colliding vec_ids") {
    // default (self-search) semantics: a query whose q_id happens to
    // equal a corpus vec_id never sees that vector — correct when the
    // query IS that corpus row, silently wrong when the caller minted
    // q_ids in an unrelated id space. The dial makes the contract
    // explicit: excludeSelf = false must surface the collided vector
    // (here: the query carries vec 3's exact embedding, so vec 3 is
    // its rank-1 cosine-1 neighbor).
    val q = emb.filter(col("vec_id") === 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val withSelf = IvfPq.search(index, emb, q, topK = 1,
        nProbe = index.kCells, shortlist = 50, excludeSelf = false)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(withSelf.toSeq === Seq((3L, 1.0)),
      s"excludeSelf=false must rank the collided id first: ${withSelf.toSeq}")
    val without = IvfPq.search(index, emb, q, topK = 1,
        nProbe = index.kCells, shortlist = 50)
      .collect().map(_.getLong(1))
    assert(!without.contains(3L), "default self-search must drop q_id == vec_id")
  }

  test("pruned search scans only probed cells' codes") {
    // semantics, not plan: every returned neighbor must come from one
    // of the query's nProbe nearest cells
    val nProbe = 3
    val got = IvfPq.search(index, emb, queries, topK = 5, nProbe = nProbe,
        shortlist = 25)
      .join(index.cells.select(col("vec_id"), col("cell")), Seq("vec_id"))
    val qc = queries.crossJoin(broadcast(index.centroids))
      .withColumn("c_sim", expr("cosine_sim(q_emb, centroid)"))
      .withColumn("crn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("c_sim").desc, col("cell"))))
      .filter(col("crn") <= nProbe)
      .select(col("q_id"), col("cell"), lit(1).as("probed"))
    val escaped = got.join(qc, Seq("q_id", "cell"), "left")
      .filter(col("probed").isNull)
    assert(escaped.count() === 0)
  }

  /** The exact cosine top-5 of vec_id < 10 within `corpus` — q50's
    * ranking rule (6-decimal cosine, vec_id tiebreak, self excluded).
    */
  private def exactTop5(corpus: DataFrame): Map[(Long, Int), Long] =
    corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .crossJoin(corpus)
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos_r", round(expr("cosine_sim(q_emb, embedding)"), 6))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("cos_r").desc, col("vec_id"))))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("rn"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap

  private def fullProbe(idx: IvfPq.Index, corpus: DataFrame): Map[(Long, Int), Long] = {
    val q = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    IvfPq.search(idx, corpus, q, topK = 5, nProbe = idx.kCells,
        shortlist = corpus.count().toInt)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
  }

  private def rowsOf(idx: IvfPq.Index) = (
    idx.centroids.collect().map(r => (r.getInt(0),
      r.getAs[scala.collection.Seq[Float]](1).toList)).sortBy(_._1).toList,
    idx.codebooks.collect().map(r => (r.getInt(0), r.getInt(1),
      r.getAs[scala.collection.Seq[Double]](2).toList)).sortBy(r => (r._1, r._2)).toList,
    encoded(idx.cells))

  private def encoded(df: DataFrame): Map[Long, (Int, List[Int])] =
    df.select(col("vec_id"), col("cell"), col("codes")).collect()
      .map(r => r.getLong(0) -> (r.getInt(1),
        r.getAs[scala.collection.Seq[Int]](2).toList)).toMap

  /** The higher-order-function encode the compiled kernel replaced,
    * kept as its reference: argmins as `array_min` over struct(d2, id)
    * on broadcast 1-row arrays of the stored centroids and codebooks.
    */
  private def referenceEncode(index: IvfPq.Index, vectors: DataFrame): DataFrame = {
    val k = index.kCodes
    val centArr = index.centroids
      .agg(array_sort(collect_list(struct(col("cell"), col("centroid"))))
        .as("carr"))
    val bookArr = index.codebooks
      .agg(array_sort(collect_list(
        struct(col("sub"), col("code"), col("centroid")))).as("barr"))
    val d2 = (a: Column, b: Column) => aggregate(
      zip_with(a, b, (x, c) => (x.cast("double") - c.cast("double"))
        * (x.cast("double") - c.cast("double"))),
      lit(0.0), (acc, x) => acc + x)
    IvfPq.unitize(vectors)
      .crossJoin(broadcast(centArr))
      .withColumn("cell", array_min(transform(col("carr"),
        c => struct(d2(col("embedding"), c.getField("centroid")).as("d2"),
          c.getField("cell").as("cell")))).getField("cell"))
      .withColumn("enc",
        if (index.residual)
          zip_with(col("embedding"),
            element_at(col("carr"), col("cell") + 1).getField("centroid"),
            (x, y) => (x.cast("double") - y.cast("double")).cast("float"))
        else col("embedding"))
      .crossJoin(broadcast(bookArr))
      .withColumn("codes",
        transform(sequence(lit(0), lit(index.m - 1)), s =>
          array_min(transform(slice(col("barr"), s * k + 1, lit(k)),
            b => struct(
              d2(slice(col("enc"), s * index.subDim + 1, lit(index.subDim)),
                b.getField("centroid")).as("d2"),
              b.getField("code").as("code")))).getField("code")))
      .select(col("vec_id"), col("cell"), col("codes"))
  }

  test("compiled encode == the higher-order reference (residual and flat)") {
    val flat = IvfPq.build(spark, emb, dim = 64, kCells = 16, kCodes = 64,
      residual = false)
    try Seq(index, flat).foreach { idx =>
      val ref = encoded(referenceEncode(idx, emb))
      assert(encoded(IvfPq.encode(idx, emb)) === ref)
      assert(encoded(idx.cells) === ref)
    } finally flat.close()
  }

  test("build is independent of partitioning") {
    val again = IvfPq.build(spark, emb.repartition(7), dim = 64, kCells = 8)
    try assert(rowsOf(again) === rowsOf(index))
    finally again.close()
  }

  test("sampled training (256 rows per centroid) keeps full probe exact") {
    // kCells = kCodes = 1 caps the sample at 256 of the 500 vectors
    assert(emb.count() === 500)
    assert(Quantizer.sample(emb, Quantizer.PointsPerCentroid, 42).length === 256)
    val tiny = IvfPq.build(spark, emb, dim = 64, kCells = 1, kCodes = 1)
    try {
      val exact = Registry.byName("q50_cosine_topk").fn(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
      assert(fullProbe(tiny, emb) === exact)
    } finally tiny.close()
  }

  test("k above the distinct points still yields k codes per subspace") {
    // 40 vectors cannot fill kCodes = 64 distinct centroids; the surplus
    // codes duplicate trained ones, so the sub·k + code ADC slots hold
    val slice = emb.filter(col("vec_id") < 40)
    val small = IvfPq.build(spark, slice, dim = 64, kCells = 8, kCodes = 64)
    try {
      assert(small.codebooks.count() === small.m.toLong * 64)
      assert(small.centroids.count() === 8)
      assert(fullProbe(small, slice) === exactTop5(slice))
    } finally small.close()
  }

  test("a served-size build runs at most 10 Spark jobs") {
    val (built, jobs) = jobsOf(
      IvfPq.build(spark, emb, dim = 64, kCells = 16, kCodes = 64))
    try assert(jobs >= 1 && jobs <= 10, s"IvfPq.build ran $jobs Spark jobs")
    finally built.close()
  }

  /** The windowed expression search the driver-side kernel replaced,
    * kept as its reference: probe ranking by a crossJoin with the
    * broadcast centroids and a window, one ADC table per (query, probed
    * cell) collected from a crossJoin with the codebooks, the code scan
    * as a join on `cell` with `zip_with` lookups, and two windows for
    * the shortlist cut and the exact re-rank.
    */
  private def referenceSearch(index: IvfPq.Index, vectors: DataFrame,
      queries: DataFrame, topK: Int, nProbe: Int, shortlist: Int,
      excludeSelf: Boolean): DataFrame = {
    val k = index.kCodes
    val subDim = index.subDim
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
    val qUnit = IvfPq.unitize(queries.withColumnRenamed("q_emb", "embedding"))
      .withColumnRenamed("embedding", "q_emb")
    val qCells = qUnit
      .crossJoin(broadcast(index.centroids))
      .withColumn("c_sim", expr("cosine_sim(q_emb, centroid)"))
      .withColumn("crn", row_number().over(w.orderBy(col("c_sim").desc, col("cell"))))
      .filter(col("crn") <= nProbe)
      .select(col("q_id"), col("cell"),
        (if (index.residual) zip_with(col("q_emb"), col("centroid"),
          (x, y) => (x.cast("double") - y.cast("double")).cast("float"))
         else col("q_emb")).as("q_res"))
    val probes = qCells
      .crossJoin(broadcast(index.codebooks))
      .withColumn("qsub", slice(col("q_res"), col("sub") * subDim + 1, lit(subDim)))
      .withColumn("d2", aggregate(zip_with(col("qsub"), col("centroid"),
          (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
        lit(0.0), (acc, x) => acc + x))
      .select(col("q_id"), col("cell"), (col("sub") * k + col("code")).as("slot"), col("d2"))
      .groupBy(col("q_id"), col("cell"))
      .agg(array_sort(collect_list(struct(col("slot"), col("d2")))).as("pairs"))
      .select(col("q_id"), col("cell"), transform(col("pairs"), p => p("d2")).as("dt"))
    val short = index.cells.join(broadcast(probes), Seq("cell"))
      .filter(if (excludeSelf) col("q_id") =!= col("vec_id") else lit(true))
      .withColumn("adc", round(aggregate(
        zip_with(col("codes"), sequence(lit(0), lit(index.m - 1)),
          (c, s) => element_at(col("dt"), s * k + c + 1)),
        lit(0.0), (acc, x) => acc + x), 9))
      .withColumn("srn", row_number().over(w.orderBy(col("adc"), col("vec_id"))))
      .filter(col("srn") <= shortlist)
      .select(col("q_id"), col("vec_id"))
    short.join(vectors, Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("cos_r", round(expr("cosine_sim(q_emb, embedding)"), 6))
      .withColumn("rn", row_number().over(w.orderBy(col("cos_r").desc, col("vec_id"))))
      .filter(col("rn") <= topK)
      .select(col("q_id"), col("vec_id"), col("cos_r"), col("rn"))
  }

  /** (q_id, vec_id, cos_r bits, rn) rows: NaN-safe, −0.0-strict. */
  private def bits(rows: Array[org.apache.spark.sql.Row], off: Int = 0) =
    rows.map(r => (r.getLong(off), r.getLong(off + 1),
      java.lang.Double.doubleToLongBits(r.getDouble(off + 2)), r.getInt(off + 3)))
      .sorted.toSeq

  /** The kernel's `search` (in (q_id, rn) order) and `searchGrid` rows
    * equal the reference's at every grid point, for every topK ≤ 5.
    */
  private def assertMatches(idx: IvfPq.Index, corpus: DataFrame, q: DataFrame,
      grid: Seq[Int], shortlist: Int, excludeSelf: Boolean,
      topKs: Seq[Int] = Seq(1, 5)): Unit = {
    val ref = grid.map(p => p -> referenceSearch(idx, corpus, q, 5, p, shortlist,
      excludeSelf).collect()).toMap
    topKs.foreach { topK =>
      val gridRows = IvfPq.searchGrid(idx, corpus, q, topK, grid, shortlist,
        excludeSelf).collect()
      grid.foreach { p =>
        val want = bits(ref(p).filter(_.getInt(3) <= topK))
        val got = IvfPq.search(idx, corpus, q, topK, p, shortlist, excludeSelf).collect()
        val ctx = s"p=$p shortlist=$shortlist topK=$topK excludeSelf=$excludeSelf"
        assert(got.map(r => (r.getLong(0), r.getInt(3))).toSeq ===
          got.map(r => (r.getLong(0), r.getInt(3))).sorted.toSeq, s"order $ctx")
        assert(bits(got) === want, ctx)
        assert(bits(gridRows.filter(_.getInt(0) == p), 1) === want, s"grid $ctx")
      }
    }
  }

  test("kernel search == the windowed reference (residual and flat, full grid)") {
    val n = emb.count().toInt
    val flat = IvfPq.build(spark, emb, dim = 64, kCells = 8, residual = false)
    try Seq(index, flat).foreach { idx =>
      for (shortlist <- Seq(1, 25, n); excludeSelf <- Seq(true, false))
        assertMatches(idx, emb, queries, Seq(1, 3, idx.kCells), shortlist, excludeSelf)
    } finally flat.close()
  }

  test("kernel == reference on a tie-heavy corpus and a zero query") {
    // three copies of 60 vectors: every ADC score and cosine ties three
    // ways, so only the vec_id tie-break separates the rows
    val base = emb.filter(col("vec_id") < 60)
    val corpus = base.unionByName(
        base.select((col("vec_id") + 1000).as("vec_id"), col("embedding")))
      .unionByName(base.select((col("vec_id") + 2000).as("vec_id"), col("embedding")))
    val idx = IvfPq.build(spark, corpus, dim = 64, kCells = 4, kCodes = 8)
    // the zero query unitizes to itself and scores NaN against everything
    val zero = spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(999999L, Array.fill(64)(0f).toSeq)),
        queries.schema)
    val q = queries.unionByName(zero)
    try for (shortlist <- Seq(1, 4, 180); excludeSelf <- Seq(true, false))
      assertMatches(idx, corpus, q, Seq(1, 2, idx.kCells), shortlist, excludeSelf,
        topKs = Seq(5))
    finally idx.close()
  }

  test("kernel answers are independent of the code table's partitioning") {
    val re = index.copy(cells = index.cells.repartition(7))
    val a = IvfPq.searchGrid(index, emb, queries, 5, Seq(1, 3, 8), 25).collect()
    val b = IvfPq.searchGrid(re, emb, queries, 5, Seq(1, 3, 8), 25).collect()
    assert(b.toSeq === a.toSeq)
  }

  test("a served-size search runs at most 3 Spark jobs") {
    val served = IvfPq.build(spark, emb, dim = 64, kCells = 16, kCodes = 64)
    try {
      val q8 = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val (rows, jobs) = jobsOf(IvfPq.search(served, emb, q8, topK = 5,
        nProbe = 12, shortlist = 96).collect())
      assert(rows.length === 40)
      assert(jobs >= 1 && jobs <= 3, s"IvfPq.search ran $jobs Spark jobs")
    } finally served.close()
  }
}
