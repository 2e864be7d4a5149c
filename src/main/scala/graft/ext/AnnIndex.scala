package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trained IVF (inverted-file) ANN index: k-means centroids partition
  * the corpus into cells; queries probe only their `nProbe` nearest
  * cells — the standard recall/cost dial of production vector search.
  *
  * Scale posture: the centroids train on the driver from a bounded,
  * partition-independent sample (`Quantizer` — one Spark job) and stay
  * there (k rows); cell assignment is one compiled map over the
  * corpus; a probe touches nProbe/k of the data. Persist `assigned`
  * partitioned by `cell` and a probe prunes files, not just rows.
  */
object AnnIndex {

  /** `cents(cell)`: a cell centroid (float values) on the driver. */
  final case class Index(assigned: DataFrame, cents: Array[Array[Double]]) {
    def k: Int = cents.length
    def centroids: DataFrame = Quantizer.centroidTable(assigned.sparkSession, cents)
  }

  /** Train k seeded centroids on the embedding column and assign every
    * vector to its nearest one (`Quantizer.nearest` against the stored
    * float centroids). `embeddings`: (vec_id long, embedding
    * array<float>).
    */
  def build(spark: SparkSession, embeddings: DataFrame, k: Int = 16,
      seed: Long = 42): Index = {
    val points = Quantizer.trainingSet(
      Quantizer.sample(embeddings, Quantizer.PointsPerCentroid * k, seed), k)
    val cents = Quantizer.train(points, 0, points.headOption.fold(0)(_.length), k, seed)
      .map(_.map(_.toFloat.toDouble))
    import spark.implicits._
    val assigned = embeddings.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, v, Quantizer.nearest(v, 0, cents, 0, k)) }
      .toDF("vec_id", "embedding", "cell")
    Index(assigned, cents)
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

  /** Reload a saved index. The k-row centroid sidecar collects to the
    * driver once — a metadata-sized action, not a data scan.
    */
  def load(spark: SparkSession, dir: String): Index = {
    val assigned = spark.read.parquet(s"$dir/assigned.parquet")
      .select(col("vec_id"), col("embedding"), col("cell"))
    Index(assigned, spark.read.parquet(s"$dir/centroids.parquet").orderBy(col("cell"))
      .collect().map(_.getAs[scala.collection.Seq[Float]]("centroid").map(_.toDouble).toArray))
  }

  /** The rows of `cells`, a search's one read of `assigned`: on a saved
    * index, a static PartitionFilter that lists only those cells' files.
    */
  private[graft] def candidates(index: Index, cells: Seq[Int]): DataFrame =
    index.assigned.filter(col("cell").isin(cells: _*))
      .select(col("vec_id"), col("embedding"), col("cell"))

  /** Top-k neighbors for each query (q_id long, q_emb array<float>;
    * one row per q_id) among its nProbe cells of most cosine-similar
    * centroids: a driver probe (`IvfPq.probe`), then q50's exact cosine
    * top-k (`TopK.cosine`) over the probed cells. A local (q_id,
    * vec_id, cos_r, rn) frame, after the query collect and one pass.
    *
    * `excludeSelf` (default true) drops candidates whose vec_id equals
    * the q_id — the self-search of the registered queries (q52/q79,
    * where queries ARE corpus rows). Pass false when query ids come
    * from a DIFFERENT id space than the index: an accidental numeric
    * collision would otherwise silently drop a true neighbor.
    */
  def search(index: Index, queries: DataFrame, topK: Int = 5,
      nProbe: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    val qs = TopK.queries(queries)
    val admits = qs.map { case (_, q) =>
      val cells = IvfPq.probe(index.cents, q, nProbe).toSet
      Array.tabulate(index.k)(cells) }
    val probed = (0 until index.k).filter(c => admits.exists(_(c)))
    TopK.cosine(candidates(index, probed), qs, if (probed.isEmpty) 0 else topK,
      excludeSelf, Some(admits))
  }
}
