package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ext.{IvfPq, Quantizer}

/** Composed IVF-PQ (IVFADC): exactness at full probe, recall of the
  * registered pruned config, and the one-plan scale proof — a probe
  * over the saved index must show cell PartitionFilters AND broadcast
  * codebooks in the SAME physical plan.
  */
class IvfPqSpec extends SparkSpec {

  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
    .select(col("vec_id"), col("embedding"))
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

  test("saved index: probe plan prunes cell partitions AND broadcasts codebooks") {
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
    // THE one-plan scale claim: in a single search plan over the disk
    // index, (a) the cell-partitioned code scan is pruned by the probe
    // join — dynamic partition pruning at file listing, not a row
    // filter — and (b) the PQ codebooks reach the ADC stage through a
    // BroadcastExchange. staticPlan disables AQE so the shape is
    // inspectable pre-execution.
    staticPlan {
      val plan = IvfPq.search(loaded, emb, queries, nProbe = 3, shortlist = 25)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      val pf = plan.linesIterator.filter(_.trim.startsWith("PartitionFilters:"))
        .mkString("\n")
      assert(pf.contains("dynamicpruning") && pf.contains("cell"),
        s"no dynamic cell pruning on the code scan:\n$pf")
      assert(plan.contains("BroadcastExchange"),
        "codebook/probe sides are not broadcast")
    }
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
    // jobs carry this thread's job group; a marker job run afterwards
    // proves every earlier start event has reached the listener (the
    // listener bus delivers in order)
    val sc = spark.sparkContext
    val group = s"ivfpq-build-${java.util.UUID.randomUUID}"
    val groups = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(
          Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted build")
      val built = IvfPq.build(spark, emb, dim = 64, kCells = 16, kCodes = 64)
      sc.setJobGroup(group + "-marker", "marker")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains(group + "-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(group + "-marker"), "marker job never observed")
      val jobs = groups.toArray.count(_ == group)
      assert(jobs >= 1 && jobs <= 10, s"IvfPq.build ran $jobs Spark jobs")
      built.close()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
