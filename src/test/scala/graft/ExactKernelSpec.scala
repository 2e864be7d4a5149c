package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.CosineSimilarity
import graft.queries.VectorOps

/** The exact cosine top-k (`VectorOps.exactTopKOf`, the q50 kernel)
  * against the broadcast-join/window plan it replaced, kept here as
  * the reference (the LexicalKernelSpec pattern): identical rows,
  * cosines compared bit for bit.
  */
class ExactKernelSpec extends SparkSpec {

  /** The replaced plan: broadcast join, `row_number` window, orderBy. */
  private def referenceExact(corpus: DataFrame, queries: DataFrame, topK: Int,
      excludeSelf: Boolean): DataFrame = {
    CosineSimilarity.ensureRegistered(spark)
    val pairs = corpus.select(col("vec_id"), col("embedding")).join(broadcast(queries),
      if (excludeSelf) col("q_id") =!= col("vec_id") else lit(true))
      .withColumn("cos_r", round(expr("cosine_sim(q_emb, embedding)"), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("vec_id"))
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= topK)
      .select(col("q_id"), col("vec_id"), col("cos_r"), col("rn"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** (q_id, vec_id, cos_r bits, rn) rows, −0.0-strict. NaN compares as
    * one value: the kernel's scores come back as Java-serialized task
    * results, which write every NaN as the canonical one, while the
    * plan keeps the payload its division produced.
    */
  private def bits(df: DataFrame): Seq[(Long, Long, Long, Int)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getInt(3)))

  /** Kernel vs reference at k = 1, 10 and beyond the corpus, with and
    * without self exclusion.
    */
  private def assertSame(corpus: DataFrame, queries: DataFrame, what: String): Unit = {
    val n = corpus.count().toInt
    for (k <- Seq(1, 10, n + 5); self <- Seq(true, false)) {
      val got = bits(VectorOps.exactTopKOf(corpus, queries, k, self))
      assert(got.nonEmpty, s"$what k=$k excludeSelf=$self")
      assert(got === bits(referenceExact(corpus, queries, k, self)),
        s"$what k=$k excludeSelf=$self")
    }
  }

  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))
  private val qSchema = StructType(Seq(StructField("q_id", LongType),
    StructField("q_emb", ArrayType(FloatType))))

  private def frame(rows: Seq[(Long, Array[Float])], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      rows.map { case (id, v) => Row(id, v.toSeq) }: _*), schema)

  test("exactTopKOf equals the window plan on the fixture corpus") {
    val e = Tables.load(spark, sfDir, "embeddings").select(col("vec_id"), col("embedding"))
    assertSame(e, e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")), "fixture")
  }

  test("exactTopKOf equals the window plan on duplicated vectors and a zero query") {
    val base = Seq(Array(1f, 0f, 0f), Array(0f, 1f, 0f), Array(1f, 1f, 0f),
      Array(-1f, 0f, 2f), Array(0f, 0f, 0f))
    // every vector three times under different ids, interleaved
    val corpus = frame((0 until 15).map(i => (i.toLong * 3 % 17, base(i % base.length))),
      vecSchema).repartition(3)
    val queries = frame(Seq(
      (0L, Array(1f, 0f, 0f)),   // a corpus id: self exclusion applies
      (6L, Array(0f, 0f, 0f)),   // a zero query: every cosine is NaN
      (40L, Array(1f, 1f, 0f)),  // outside the corpus's id space
      (41L, Array(2f, 2f, 0f)),  // the same direction, scaled
      (40L, Array(0f, 1f, 0f))), // a second row of one q_id
      qSchema)
    assertSame(corpus, queries, "ties")
  }

  test("a local 5-query batch at top 5 runs 1 Spark job and q50 at most 2, the same on every rep") {
    val e = Tables.load(spark, sfDir, "embeddings").select(col("vec_id"), col("embedding"))
    val q0 = e.filter(col("vec_id") < 5)
      .select((col("vec_id") + 1000).as("q_id"), col("embedding").as("q_emb"))
    val q = spark.createDataFrame(java.util.Arrays.asList(q0.collect(): _*), q0.schema)
    val batch = (1 to 3).map(_ => jobsOf(VectorOps.exactTopKOf(e, q, 5).collect()))
    info(s"local batch jobs per rep: ${batch.map(_._2)}")
    assert(batch.forall(_._2 <= 1) && batch.map(_._2).distinct.size === 1,
      s"jobs per rep: ${batch.map(_._2)}")
    assert(batch.forall(_._1.length === 25))
    val q50 = Registry.byName("q50_cosine_topk").fn
    val reps = (1 to 3).map(_ => jobsOf(q50(spark, sfDir).collect()))
    info(s"q50 jobs per rep: ${reps.map(_._2)}")
    assert(reps.forall(_._2 <= 2) && reps.map(_._2).distinct.size === 1,
      s"jobs per rep: ${reps.map(_._2)}")
    assert(reps.forall(_._1.toSeq === reps.head._1.toSeq))
  }
}
