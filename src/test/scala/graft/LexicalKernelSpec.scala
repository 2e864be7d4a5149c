package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.TextOps

/** The hybrid lexical arm and its rank fusion, driver-merged kernels,
  * against the join/window plans they replaced (kept here as the
  * reference, the IvfPqSpec.referenceSearch pattern): identical rows,
  * doubles compared as raw bits.
  */
class LexicalKernelSpec extends SparkSpec {

  /** The replaced lexical plan over the old (doc_id, tok) postings. */
  private def referenceLexicalTopK(d: String, qtok: DataFrame, k: Int): DataFrame = {
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val dtok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
    val dfT = dtok.groupBy(col("tok")).agg(count(lit(1)).cast("double").as("df"))
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    qtok.join(dtok, Seq("tok"))
      .filter(col("doc_id") =!= col("q_id"))
      .join(broadcast(dfT), Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf", round(log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))), 6))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(round(sum(col("idf")), 6).as("s"))
      .withColumn("lex_rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("s").desc, col("doc_id"))))
      .filter(col("lex_rn") <= k)
      .select(col("q_id"), col("doc_id"), col("lex_rn"))
  }

  /** The replaced union/groupBy/window/orderBy fusion. */
  private def referenceRrfFuse(lexTop: DataFrame, denTop: DataFrame): DataFrame =
    lexTop.unionByName(denTop, allowMissingColumns = true)
      .groupBy(col("q_id"), col("doc_id"))
      .agg(max(col("lex_rn")).as("lex_rn"), max(col("dense_rn")).as("dense_rn"))
      .select(col("q_id"), col("doc_id"),
        coalesce(col("lex_rn"), lit(0)).as("lex_rn"),
        coalesce(col("dense_rn"), lit(0)).as("dense_rn"),
        round(coalesce(lit(1.0) / (lit(60) + col("lex_rn")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("dense_rn")), lit(0.0)), 6).as("rrf"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rrf").desc, col("doc_id"))))
      .orderBy(col("q_id"), col("rn"))

  private def bits(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq.map {
    case x: Double => java.lang.Double.doubleToRawLongBits(x)
    case x => x
  })

  private def queryFrame(qs: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(qs.map { case (q, t) => (q, Option(t)) }).toDF("q_id", "q_text")

  /** Kernel vs reference for one corpus dir, query batch and k: the
    * lexical lists, then their fusion with a synthetic dense list that
    * overlaps them and covers a query the lexical arm misses.
    */
  private def assertSame(d: String, qs: Seq[(Long, String)], k: Int): Unit = {
    val q = queryFrame(qs)
    val ref = referenceLexicalTopK(d,
      q.select(col("q_id"), explode(array_distinct(split(col("q_text"), " "))).as("tok")), k)
    val lex = TextOps.lexicalTopK(spark, d, TextOps.queryTokens(q), k)
    assert(lex === ref.orderBy("q_id", "lex_rn").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))), s"lexical lists, k=$k")
    val dense = qs.map(_._1).distinct.flatMap { id =>
      (0 until math.min(k, 4)).map(j => (id, (id * 3 + j * 5) % 14, j + 1))
    }
    val refFused = referenceRrfFuse(ref,
      spark.createDataFrame(dense).toDF("q_id", "doc_id", "dense_rn")).collect()
    val fused = TextOps.rrfFuse(spark, lex, dense).collect()
    assert(bits(fused) === bits(refFused), s"fused lists, k=$k")
  }

  /** A documents table of (doc_id, text) rows in a fresh directory. */
  private def corpus(docs: Seq[(Long, String)]): String = {
    val d = Files.createTempDirectory("graft-lex").toString
    spark.createDataFrame(docs.map { case (id, t) => (id, Option(t)) })
      .toDF("doc_id", "text").coalesce(2).write.parquet(s"$d/documents.parquet")
    d
  }

  /** The edge queries: absent tokens, empty text, a double space (the
    * empty token), repeated tokens, a null text, and ids that are doc
    * ids (self exclusion).
    */
  private val edgeQueries = Seq(
    (0L, "a b c"), (3L, "a  b"), (5L, "b"), (100L, "zz yy"), (101L, ""),
    (102L, "a a a b"), (103L, null), (104L, "e d c b a"), (105L, " a "))

  test("lexical arm and fusion equal the replaced plans on a tie-heavy corpus") {
    val d = corpus(Seq(
      0L -> "a b c", 1L -> "a b c", 2L -> "c b a", 3L -> "a b", 4L -> "a  b",
      5L -> "b a", 6L -> "a", 7L -> "", 8L -> "d e", 9L -> null,
      10L -> "a a b b", 11L -> "e d", 12L -> "c", 13L -> " a"))
    try Seq(1, 10).foreach(k => assertSame(d, edgeQueries, k))
    finally TextOps.releaseCaches()
  }

  test("lexical arm and fusion equal the replaced plans on the fixture corpus") {
    val docs = Tables.load(spark, sfDir, "documents")
    val texts = docs.filter(col("doc_id") < 5).select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // edge query ids moved past the fixture's query docs (ids 0–4)
    val edges = edgeQueries.map { case (q, t) => (q + 1000, t) }
    try Seq(1, 10).foreach(k => assertSame(sfDir, texts ++ edges, k))
    finally TextOps.releaseCaches()
  }

  test("a batch whose tokens no document holds gets no rows and no corpus pass") {
    val q = queryFrame(Seq((0L, "zz yy"), (1L, "qqq")))
    try {
      TextOps.warmLexStats(spark, sfDir)
      val (lex, jobs) = jobsOf(TextOps.lexicalTopK(spark, sfDir, TextOps.queryTokens(q), 10))
      assert(lex.isEmpty)
      assert(jobs === 1, "only the df collect runs")
    } finally TextOps.releaseCaches()
  }

  test("a warm hybridTopK serve of a local batch runs at most 5 Spark jobs, the same on every rep") {
    val engine = new GraftEngine(spark, sfDir)
    try {
      TextOps.warmLexStats(spark, sfDir)
      val q0 = engine.table("documents").filter(col("doc_id") < 5)
        .select(col("doc_id").as("q_id"), col("text").as("q_text"))
        .join(engine.table("embeddings").filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
          Seq("q_id"))
      val q = spark.createDataFrame(java.util.Arrays.asList(q0.collect(): _*), q0.schema)
      val first = engine.hybridTopK(q).collect() // builds the served index
      val reps = (1 to 3).map(_ => jobsOf(engine.hybridTopK(q).collect()))
      val jobs = reps.map(_._2)
      info(s"jobs per rep: $jobs")
      assert(jobs.forall(_ <= 5), s"jobs per rep: $jobs")
      assert(jobs.distinct.size === 1, s"jobs per rep: $jobs")
      assert(reps.forall(_._1.toSeq === first.toSeq))
    } finally engine.releaseCaches()
  }
}
