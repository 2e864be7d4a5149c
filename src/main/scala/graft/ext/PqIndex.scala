package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * stay there; encoding is one compiled map over the corpus; a search
  * streams CODES (8 B/vector), not raw vectors (256 B/vector), so the
  * memory-bandwidth bound drops 32×. A search is `IvfPq`'s ADC scan
  * over one cell with raw, not residual, tables (IVFADC with one cell,
  * the layout `IvfPq` composes with `AnnIndex`'s cells).
  */
object PqIndex {

  /** `codebooks`: (sub int, code int, centroid array<double> of
    * subDim), the stored form of `books` (row `sub·k + code`, on the
    * driver). `codes`: (vec_id long, codes array<int> of m) — persisted
    * by `build`; call `close()` when the index is done serving.
    */
  final case class Index(codebooks: DataFrame, codes: DataFrame,
      books: Array[Array[Double]], m: Int, k: Int, subDim: Int) {
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
    Index(Quantizer.codebookTable(spark, books, k), codes, books, m, k, subDim)
  }

  /** The collected queries in q_id order, and each one's `cap` least
    * (adc, vec_id): `IvfPq.adcScan` with every row in cell 0.
    */
  private def scan(index: Index, queries: DataFrame, cap: Int,
      excludeSelf: Boolean): (Array[(Long, Array[Float])], Array[Array[(Double, Long)]]) = {
    val qs = TopK.queries(queries).sortBy(_._1)
    val probes = new IvfPq.Probes(qs.map(_._1), Array.fill(qs.length)(Array(1)),
      qs.map { case (_, q) => Array(Quantizer.adcTable(q, index.books, index.m, index.k)) })
    (qs, IvfPq.adcScan(index.codes.select(col("vec_id"), lit(0).as("cell"), col("codes")),
      probes, Array(1), index.k, cap, excludeSelf))
  }

  /** Approximate top-k by ADC, one pass over the codes. `queries`:
    * (q_id long, q_emb array<float>), one row per q_id; its m·k table
    * dt[sub·k + code] (the "asymmetric" half of ADC) is built on the
    * driver, and a row scores Σ_s dt[s·k + codes[s]]. A local (q_id,
    * vec_id, adc, rn) frame; `excludeSelf` as in AnnIndex.search.
    */
  def search(index: Index, queries: DataFrame, topK: Int = 5,
      excludeSelf: Boolean = true): DataFrame = {
    val (qs, tops) = scan(index, queries, topK, excludeSelf)
    TopK.frame(queries.sparkSession, qs.map(_._1), tops, "adc")
  }

  /** ADC shortlist + exact re-rank — the standard production PQ
    * pipeline: the code scan nominates `shortlist` candidates per
    * query, and ONLY those fetch their raw embedding from `vectors`
    * (the relation the index was built from) for the exact L2 ranking
    * on the driver. Recall is set by how often the true neighbor
    * survives into the shortlist — far weaker a demand than ADC
    * ordering the top-k itself. A local (q_id, vec_id, d2, rn) frame.
    */
  def searchReRanked(index: Index, vectors: DataFrame, queries: DataFrame,
      topK: Int = 5, shortlist: Int = 25,
      excludeSelf: Boolean = true): DataFrame = {
    val (qs, short) = scan(index, queries, shortlist, excludeSelf)
    TopK.frame(queries.sparkSession, qs.map(_._1),
      IvfPq.reRank(vectors, short, topK, TopK.Ascending)((i, v) =>
        Quantizer.round(Quantizer.dist(qs(i)._2, 0, v.map(_.toDouble)), 9)), "d2")
  }
}
