package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ext.{PqIndex, Quantizer}

/** Product-quantization ANN: code shape, ADC fidelity against the
  * exact L2 ranking (PQ approximates L2, so the baseline here is a
  * brute-force L2 top-k, NOT q50's cosine), the registered query, and
  * the ADC-scan search and driver re-rank against the crossJoin/window
  * plans they replaced, kept here as the references (the
  * ExactKernelSpec pattern).
  */
class PqIndexSpec extends SparkSpec {

  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
    .select(col("vec_id"), col("embedding"))
  private lazy val index = PqIndex.build(spark, emb, dim = 64)

  private def exactL2Top5(corpus: org.apache.spark.sql.DataFrame) = {
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    queries.crossJoin(corpus)
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("d2", aggregate(
        zip_with(col("q_emb"), col("embedding"),
          (a, b) => (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double"))),
        lit(0.0), (acc, x) => acc + x))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_id")).orderBy(col("d2"), col("vec_id"))))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("vec_id"))
  }

  test("every vector encodes to m codes, each within [0, k)") {
    val codes = index.codes.collect()
    assert(codes.length === emb.count())
    codes.foreach { r =>
      val cs = r.getAs[scala.collection.Seq[Int]]("codes")
      assert(cs.length === index.m)
      assert(cs.forall(c => c >= 0 && c < index.k))
    }
    assert(index.codebooks.count() === index.m.toLong * index.k)
  }

  test("ADC distance approximates exact L2 within the codebook error") {
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val adc = PqIndex.search(index, queries, topK = 5)
    // joined against the true distance of the SAME pair, the relative
    // ADC error must stay bounded — PQ is lossy but not wild
    val exact = queries.crossJoin(emb)
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("d2", aggregate(
        zip_with(col("q_emb"), col("embedding"),
          (a, b) => (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double"))),
        lit(0.0), (acc, x) => acc + x))
      .select(col("q_id").as("eq"), col("vec_id").as("ev"), col("d2"))
    val errs = adc.join(exact,
        adc("q_id") === col("eq") && adc("vec_id") === col("ev"))
      .select((abs(col("adc") - col("d2")) / col("d2")).as("rel"))
      .collect().map(_.getDouble(0))
    val meanRel = errs.sum / errs.length
    assert(meanRel < 0.5, s"mean relative ADC error $meanRel")
  }

  test("registered q109_pq_topk: top-5 per query with useful L2 recall") {
    val rows = Registry.byName("q109_pq_topk").fn(spark, sfDir).collect()
    assert(rows.length === 50) // 10 queries x top-5
    val exact = exactL2Top5(emb).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // m=8/k=16 codebooks on near-isotropic random vectors — the PQ
    // worst case (no cluster structure to exploit), so this is a
    // recall FLOOR; clustered real embeddings quantize far tighter.
    assert(recall >= 0.4, s"recall=$recall")
  }

  test("k above the distinct points still yields k codes per subspace") {
    // 40 vectors cannot fill k = 64 distinct centroids; the surplus
    // codes duplicate trained ones, so the m·k slot layout of the ADC
    // table holds and a whole-corpus shortlist re-ranks to exact L2
    val slice = emb.filter(col("vec_id") < 40)
    val small = PqIndex.build(spark, slice, dim = 64, k = 64)
    try {
      assert(small.codebooks.count() === small.m.toLong * 64)
      val queries = slice.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val got = PqIndex.searchReRanked(small, slice, queries, topK = 5,
          shortlist = 40)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = exactL2Top5(slice).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === exact)
    } finally small.close()
  }

  /** The replaced ADC search: the driver-built tables as a local frame,
    * a crossJoin with the codes, `zip_with` lookups and a `row_number`
    * window over (adc, vec_id).
    */
  private def referenceSearch(idx: PqIndex.Index, queries: DataFrame, topK: Int,
      excludeSelf: Boolean): DataFrame = {
    val k = idx.k
    val dt = spark.createDataFrame(
      queries.select(col("q_id"), col("q_emb")).collect().toSeq.map(r =>
        Row(r.getLong(0), Quantizer.adcTable(r.getSeq[Float](1).toArray,
          idx.books, idx.m, k).toSeq)).asJava,
      StructType(Seq(StructField("q_id", LongType),
        StructField("dt", ArrayType(DoubleType)))))
    idx.codes.crossJoin(broadcast(dt))
      .filter(if (excludeSelf) col("q_id") =!= col("vec_id") else lit(true))
      .withColumn("adc", round(aggregate(
        zip_with(col("codes"), sequence(lit(0), lit(idx.m - 1)),
          (c, s) => element_at(col("dt"), s * k + c + 1)),
        lit(0.0), (acc, x) => acc + x), 9))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))))
      .filter(col("rn") <= topK)
      .select(col("q_id"), col("vec_id"), col("adc"), col("rn"))
  }

  /** The replaced re-rank: the reference shortlist joined to the raw
    * vectors and the queries, exact L2 by `zip_with`/`aggregate` and a
    * `row_number` window over (d2, vec_id).
    */
  private def referenceReRanked(idx: PqIndex.Index, vectors: DataFrame,
      queries: DataFrame, topK: Int, shortlist: Int, excludeSelf: Boolean): DataFrame =
    referenceSearch(idx, queries, shortlist, excludeSelf)
      .join(vectors, Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("d2", round(aggregate(
        zip_with(col("q_emb"), col("embedding"),
          (a, b) => (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double"))),
        lit(0.0), (acc, x) => acc + x), 9))
      .withColumn("rrn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("d2"), col("vec_id"))))
      .filter(col("rrn") <= topK)
      .select(col("q_id"), col("vec_id"), col("d2"), col("rrn").as("rn"))

  /** (q_id, vec_id, score bits, rn) rows in (q_id, rn) order. */
  private def bits(rows: Array[Row]): Seq[(Long, Long, Long, Int)] =
    rows.toSeq.map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getInt(3)))
      .sortBy(r => (r._1, r._4))

  private def keys(rows: Array[Row]): Seq[(Long, Int)] =
    rows.toSeq.map(r => (r.getLong(0), r.getInt(3)))

  /** Both searches vs their references at topK = 1, 5 and beyond the
    * corpus, shortlists 1, 25 and the corpus, self exclusion on/off; the
    * kernels' own rows must already be in (q_id, rn) order.
    */
  private def assertSame(idx: PqIndex.Index, vectors: DataFrame, queries: DataFrame,
      what: String): Unit = {
    val n = vectors.count().toInt
    for (k <- Seq(1, 5, n + 5); self <- Seq(true, false)) {
      val ctx = s"$what search topK=$k excludeSelf=$self"
      val got = PqIndex.search(idx, queries, k, self).collect()
      assert(got.nonEmpty && keys(got) === keys(got).sorted, s"order $ctx")
      assert(bits(got) === bits(referenceSearch(idx, queries, k, self).collect()), ctx)
      for (short <- Seq(1, 25, n)) {
        val ctx = s"$what searchReRanked topK=$k shortlist=$short excludeSelf=$self"
        val re = PqIndex.searchReRanked(idx, vectors, queries, k, short, self).collect()
        assert(re.nonEmpty && keys(re) === keys(re).sorted, s"order $ctx")
        assert(bits(re) ===
          bits(referenceReRanked(idx, vectors, queries, k, short, self).collect()), ctx)
      }
    }
  }

  test("search and searchReRanked equal the window plans on the fixture corpus") {
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    assertSame(index, emb, queries, "fixture")
  }

  test("search and searchReRanked equal the window plans on duplicated vectors and a zero query") {
    val base = Seq(Array(1f, 0f, 0f, 2f), Array(0f, 1f, 0f, 0f), Array(1f, 1f, 0f, 1f),
      Array(-1f, 0f, 2f, 0f), Array(0f, 0f, 0f, 0f))
    // every vector three times under different ids, interleaved
    val corpus = spark.createDataFrame(java.util.Arrays.asList(
        (0 until 15).map(i => Row(i.toLong * 3 % 17, base(i % base.length).toSeq)): _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))))).repartition(3)
    val queries = spark.createDataFrame(java.util.Arrays.asList(Seq(
        (0L, Array(1f, 0f, 0f, 2f)),  // a corpus id: self exclusion applies
        (6L, Array(0f, 0f, 0f, 0f)),  // a zero query
        (40L, Array(1f, 1f, 0f, 1f)), // outside the corpus's id space
        (41L, Array(2f, 2f, 0f, 2f))) // the same direction, scaled
        .map { case (id, v) => Row(id, v.toSeq) }: _*),
      StructType(Seq(StructField("q_id", LongType),
        StructField("q_emb", ArrayType(FloatType)))))
    val idx = PqIndex.build(spark, corpus, dim = 4, m = 2, k = 3)
    try assertSame(idx, corpus, queries, "ties") finally idx.close()
  }

  test("a searchReRanked runs at most 3 Spark jobs, the same on every rep") {
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val reps = (1 to 3).map(_ =>
      jobsOf(PqIndex.searchReRanked(index, emb, queries, topK = 5).collect()))
    info(s"searchReRanked jobs per rep: ${reps.map(_._2)}")
    assert(reps.forall(_._2 <= 3) && reps.map(_._2).distinct.size === 1,
      s"jobs per rep: ${reps.map(_._2)}")
    assert(reps.forall(_._1.length === 50))
  }
}
