package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.CosineSimilarity

/** Trained IVF (inverted-file) ANN index: k-means centroids partition
  * the corpus into cells; queries probe only their `nProbe` nearest
  * cells — the standard recall/cost dial of production vector search.
  *
  * Scale posture: the centroids train on the driver from a bounded,
  * partition-independent sample (`Quantizer` — one Spark job); the
  * centroid table is tiny (k rows) and broadcasts; cell assignment is
  * one compiled map over the corpus; a probe touches nProbe/k of the
  * data. Persist `assigned` partitioned by `cell` and a probe prunes
  * files, not just rows.
  */
object AnnIndex {

  final case class Index(centroids: DataFrame, assigned: DataFrame, k: Int)

  /** Train k seeded centroids on the embedding column and assign every
    * vector to its nearest one (`Quantizer.nearest` against the stored
    * float centroids). `embeddings`: (vec_id long, embedding
    * array<float>).
    */
  def build(spark: SparkSession, embeddings: DataFrame, k: Int = 16,
      seed: Long = 42): Index = {
    CosineSimilarity.ensureRegistered(spark)
    val points = Quantizer.trainingSet(
      Quantizer.sample(embeddings, Quantizer.PointsPerCentroid * k, seed), k)
    val cents = Quantizer.train(points, 0, points.headOption.fold(0)(_.length), k, seed)
      .map(_.map(_.toFloat.toDouble))
    import spark.implicits._
    val assigned = embeddings.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, v, Quantizer.nearest(v, 0, cents, 0, k)) }
      .toDF("vec_id", "embedding", "cell")
    Index(Quantizer.centroidTable(spark, cents), assigned, k)
  }

  /** Persist the index: `assigned` lands partitioned BY CELL, so a
    * probe's `cell` predicate prunes whole directories at the file
    * listing (see the AnnIndexSpec PartitionFilters proof) — at 100 TB
    * a nProbe=4/k=1024 search lists ~0.4% of the index files. The
    * centroid table is k rows and stays a single small parquet.
    */
  def save(index: Index, dir: String): Unit = {
    index.centroids.write.mode("overwrite").parquet(s"$dir/centroids.parquet")
    index.assigned.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/assigned.parquet")
  }

  /** Reload a saved index. The `count` on the k-row centroid table is
    * a metadata-sized driver action, not a data scan.
    */
  def load(spark: SparkSession, dir: String): Index = {
    val centroids = spark.read.parquet(s"$dir/centroids.parquet")
    val assigned = spark.read.parquet(s"$dir/assigned.parquet")
      .select(col("vec_id"), col("embedding"), col("cell"))
    Index(centroids, assigned, centroids.count().toInt)
  }

  /** Top-k neighbors for each query vector, probing the nProbe cells
    * whose centroids are most cosine-similar to the query. Queries:
    * (q_id long, q_emb array<float>).
    *
    * `excludeSelf` (default true) drops candidates whose vec_id equals
    * the probe's q_id — correct for the self-search registered queries
    * (q52/q79, where queries ARE corpus rows asking for their
    * neighbors). Pass false when query ids come from a DIFFERENT id
    * space than the index: an accidental numeric collision would
    * otherwise silently drop a true neighbor.
    */
  def search(index: Index, queries: DataFrame, topK: Int = 5,
      nProbe: Int = 4, excludeSelf: Boolean = true): DataFrame = {
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
  }
}
