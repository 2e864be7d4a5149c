package graft

import org.apache.spark.sql.functions._
import graft.ext.PqIndex

/** Product-quantization ANN: code shape, ADC fidelity against the
  * exact L2 ranking (PQ approximates L2, so the baseline here is a
  * brute-force L2 top-k, NOT q50's cosine), and the registered query.
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
}
