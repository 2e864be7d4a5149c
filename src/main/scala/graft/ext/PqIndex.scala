package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-quantization (PQ) index: split the d-dim embedding into `m`
  * contiguous subspaces, k-means each subspace independently (seeded),
  * and store every vector as `m` small codes — 64 float32 dims become
  * 8 bytes, a 32× compression. Search scores candidates with
  * asymmetric distance computation (ADC): the query precomputes one
  * m×k table of exact subspace distances, and a candidate's
  * approximate distance is just `m` table lookups summed.
  *
  * Scale posture (the reason PQ exists at 100 TB): the m codebooks
  * train on the driver from one bounded, partition-independent sample
  * (`Quantizer` — one Spark job), each holding exactly k centroids, and
  * broadcast as m·k rows; encoding is one compiled map over the corpus;
  * the scan side of a search streams CODES (8 B/vector), not raw
  * vectors (256 B/vector), so the memory-bandwidth bound drops 32×.
  * Composed with the IVF cells of `AnnIndex` (encode residuals per
  * cell) this is the standard IVF-PQ layout (`IvfPq`); here PQ is kept
  * orthogonal so each mechanism is provable on its own.
  *
  * The search side is DataFrame-native: the ADC lookup is a
  * higher-order `transform`/`aggregate` over the broadcast distance
  * table — no UDF, no collect of the corpus.
  */
object PqIndex {

  /** `codebooks`: (sub int, code int, centroid array<double> of
    * subDim). `codes`: (vec_id long, codes array<int> of m) — persisted
    * by `build`; call `close()` when the index is done serving.
    */
  final case class Index(codebooks: DataFrame, codes: DataFrame,
      m: Int, k: Int, subDim: Int) {
    def close(): Unit = codes.unpersist(blocking = false)
  }

  /** Train one seeded k-centroid codebook per subspace and encode every
    * vector. `embeddings`: (vec_id long, embedding array<float> of
    * dim); dim must be divisible by m.
    */
  def build(spark: SparkSession, embeddings: DataFrame, dim: Int,
      m: Int = 8, k: Int = 16, seed: Long = 42): Index = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val books = Quantizer.trainBooks(Quantizer.trainingSet(
      Quantizer.sample(embeddings, Quantizer.PointsPerCentroid * k, seed), k),
      m, k, subDim, seed)
    import spark.implicits._
    val codes = embeddings.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, Quantizer.codes(v, books, m, k)) }
      .toDF("vec_id", "codes")
    // persist-then-count pins the encoded table (m small ints/vector);
    // callers release it via Index.close()
    codes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    codes.count()
    Index(Quantizer.codebookTable(spark, books, k), codes, m, k, subDim)
  }

  /** Per-key ADC lookup table: one ordered array per key group where
    * dt[sub·k + code] = exact squared L2 between the key's `vecCol`
    * sub-slice and that codebook centroid. Built by joining the
    * m·k-row BROADCAST codebook against the (small) query set and
    * collecting the slots back into one array column — the
    * "asymmetric" half of ADC. Shared by the flat PQ scan below
    * (keys = q_id over q_emb) and the IVF-composed scan in `IvfPq`
    * (keys = (q_id, cell) over the per-cell query residual).
    */
  private[ext] def distanceTable(codebooks: DataFrame, queries: DataFrame,
      k: Int, subDim: Int, keys: Seq[String] = Seq("q_id"),
      vecCol: String = "q_emb"): DataFrame = {
    val subDist = queries
      .crossJoin(broadcast(codebooks))
      .withColumn("qsub", slice(col(vecCol), col("sub") * subDim + 1,
        lit(subDim)))
      .withColumn("d2",
        aggregate(zip_with(col("qsub"), col("centroid"),
          (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
          lit(0.0), (acc, x) => acc + x))
      .select(keys.map(col) :+ (col("sub") * k + col("code")).as("slot")
        :+ col("d2"): _*)
    // one ordered array per key: dt[slot] = d2  (slot is 0-based)
    subDist
      .groupBy(keys.map(col): _*)
      .agg(array_sort(collect_list(struct(col("slot"), col("d2")))).as("pairs"))
      .select(keys.map(col) :+ transform(col("pairs"), p => p("d2")).as("dt"): _*)
  }

  /** Approximate top-k by ADC. `queries`: (q_id long, q_emb
    * array<float>). The per-query distance table is built by joining
    * the m·k-row broadcast codebook against the (small) query set and
    * collecting it back into ONE array column ordered by sub·k+code,
    * so the candidate scan does pure array math per row: approximate
    * squared L2 = Σ_s dt[s·k + codes[s]].
    *
    * `excludeSelf` (default true) drops vec_id == q_id candidates —
    * the self-search semantics of the registered queries. Pass false
    * when query ids are NOT drawn from the index's id space (see
    * AnnIndex.search).
    */
  def search(index: Index, queries: DataFrame, topK: Int = 5,
      excludeSelf: Boolean = true): DataFrame = {
    val k = index.k
    val dt = distanceTable(index.codebooks, queries, k, index.subDim)
    // candidate scan: codes only, query table broadcast
    index.codes.crossJoin(broadcast(dt))
      .filter(if (excludeSelf) col("q_id") =!= col("vec_id") else lit(true))
      .withColumn("adc", round(aggregate(
        zip_with(col("codes"), sequence(lit(0), lit(index.m - 1)),
          (c, s) => element_at(col("dt"), s * k + c + 1)),
        lit(0.0), (acc, x) => acc + x), 9))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))))
      .filter(col("rn") <= topK)
      .select(col("q_id"), col("vec_id"), col("adc"), col("rn"))
  }

  /** ADC shortlist + exact re-rank — the standard production PQ
    * pipeline: the code scan nominates `shortlist` candidates per
    * query (32× cheaper than scanning raw vectors), then ONLY those
    * candidates fetch their raw embedding (a semi-join against the
    * vector store, `shortlist`·|queries| rows) for exact L2 ranking.
    * Recall is set by how often the true neighbor survives into the
    * shortlist — far weaker a demand than ADC ordering the top-k
    * itself correctly. `vectors`: (vec_id, embedding), the same
    * relation the index was built from.
    */
  def searchReRanked(index: Index, vectors: DataFrame, queries: DataFrame,
      topK: Int = 5, shortlist: Int = 25,
      excludeSelf: Boolean = true): DataFrame = {
    search(index, queries, topK = shortlist, excludeSelf = excludeSelf)
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
  }
}
