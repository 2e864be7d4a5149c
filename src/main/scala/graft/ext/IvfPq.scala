package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.CosineSimilarity

/** Composed IVF-PQ index — the layout a production vector store
  * actually serves from at 100 TB (Jégou et al., "Product Quantization
  * for Nearest Neighbor Search", IEEE TPAMI 2011, §V: IVFADC): k-means
  * cells bound WHICH vectors a query looks at, product-quantization
  * codes bound WHAT the scan reads per vector — 8 code bytes instead of
  * 256 raw-float bytes.
  *
  * A search composes the two prunings multiplicatively, then repairs
  * the quantization loss exactly:
  *   1. probe: rank the kCells broadcast centroids per query, keep the
  *      nProbe nearest cells — the scan now touches ~nProbe/kCells of
  *      the corpus;
  *   2. ADC scan: score ONLY the probed cells' PQ codes against the
  *      query's broadcast m×k lookup table — pure array math per
  *      candidate, no raw vectors touched;
  *   3. exact re-rank: the per-query ADC shortlist (and nothing else)
  *      fetches raw embeddings and re-scores with exact cosine.
  *
  * Build posture: both quantizers train on the driver (`Quantizer`)
  * from one bounded, partition-independent sample — one Spark job —
  * and the whole corpus is then encoded by one compiled map that
  * returns each vector's (cell, codes) from primitive loops over the
  * quantizer arrays (`Quantizers.encode`), the same kernel `encode`
  * runs for incremental ingest. A build's only Spark work is the
  * sample collect and the persist of the serving table, whatever k
  * (IvfPqSpec bounds it at 10 jobs; 4 at the fixture's 500 vectors).
  *
  * Serve posture: centroids (kCells rows) and codebooks (m·kCodes rows)
  * broadcast; the code table persists PARTITIONED BY CELL so a probe
  * prunes whole directories at file listing (IvfPqSpec proves
  * PartitionFilters + broadcast codebooks in one plan); the only
  * per-query joins are against broadcast sides sized by |queries|.
  * Codes quantize PER-CELL RESIDUALS (see `build`) — the full IVFADC
  * layout, not the flat variant — which costs nothing at search time
  * beyond building the small ADC table per (query, probed cell)
  * instead of per query.
  */
object IvfPq {

  /** An index's quantizers on the driver: `cents(cell)` is a cell
    * centroid (float values, as stored), `books(sub·k + code)` a
    * codebook centroid. `encode` is the one (cell, codes) kernel of
    * build, `encode` and streaming ingest.
    */
  final class Quantizers(val cents: Array[Array[Double]],
      val books: Array[Array[Double]], val m: Int, val k: Int,
      val residual: Boolean) extends Serializable {
    def encode(v: Array[Float]): (Int, Array[Int]) = {
      val cell = Quantizer.nearest(v, 0, cents, 0, cents.length)
      val enc = if (residual) Quantizer.minus(v, cents(cell)) else v
      (cell, Quantizer.codes(enc, books, m, k))
    }
  }

  /** `cells`: (vec_id long, cell int, codes array<int> of m) — the
    * serving table; `close()` releases its build-time cache. `pinned`
    * is the frame `build` actually persisted: `append` swaps `cells`
    * for a union that is NOT in the cache manager, so close must keep
    * unpersisting the original or every index generation would leak
    * one MEMORY_AND_DISK table. `quantizers` holds the centroid and
    * codebook tables on the driver, read once at build or load.
    */
  final case class Index(centroids: DataFrame, codebooks: DataFrame,
      cells: DataFrame, quantizers: Quantizers,
      pinned: Option[DataFrame] = None) {
    def kCells: Int = quantizers.cents.length
    def m: Int = quantizers.m
    def kCodes: Int = quantizers.k
    def subDim: Int = quantizers.books(0).length
    def residual: Boolean = quantizers.residual
    def close(): Unit = pinned.getOrElse(cells).unpersist(blocking = false)
  }

  /** L2-normalize the embedding column (norm materialized in its own
    * projection — inlining it into the transform lambda would re-run
    * the aggregate per element). The index serves COSINE: on unit
    * vectors squared L2 = 2 - 2·cos, so the ADC shortlist's L2 order
    * is monotone with the final cosine metric — without this, PQ's L2
    * geometry and the cosine re-rank disagree and the shortlist cut
    * silently costs recall (the standard normalize-before-PQ rule of
    * cosine-metric IVF-PQ deployments). Cosine itself is scale
    * invariant, so probing and re-ranking are unchanged.
    */
  private[graft] def unitize(vectors: DataFrame): DataFrame =
    vectors
      .withColumn("_n", sqrt(aggregate(
        transform(col("embedding"), x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, x) => acc + x)))
      .withColumn("embedding",
        when(col("_n") === 0.0, col("embedding"))
          .otherwise(transform(col("embedding"),
            x => (x.cast("double") / col("_n")).cast("float"))))
      .drop("_n")

  /** Element-wise float difference a - b (double intermediate, float
    * storage — the shared promotion rule). Used for the residual a
    * query keeps after a probed cell's centroid is subtracted.
    */
  private def minus(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double")).cast("float"))

  /** (vec_id, cell, codes) of every unit vector in `unit`, one compiled
    * map over the rows.
    */
  private def encodeUnit(q: Quantizers, unit: DataFrame): DataFrame = {
    import unit.sparkSession.implicits._
    unit.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map { case (id, v) => val (cell, codes) = q.encode(v); (id, cell, codes) }
      .toDF("vec_id", "cell", "codes")
  }

  /** Train both quantizers on the UNIT-normalized corpus (seeded —
    * deterministic, and independent of partitioning: see `Quantizer`)
    * and encode every vector into one serving table. PQ trains on
    * PER-CELL RESIDUALS (v − centroid of v's cell) — the actual IVFADC
    * layout: within a cell residual magnitudes are the within-cell
    * spread, not the full corpus spread, so the same m×k codebook
    * budget quantizes far tighter. Residual ADC still estimates the
    * ORIGINAL distance — for q and candidate v in cell c,
    * ‖q−v‖² = ‖(q−cᶜ)−(v−cᶜ)‖² — so scores stay comparable across
    * probed cells. One sample serves both quantizers: the cells train
    * on its first 256·kCells rows, the codebooks on its first
    * 256·kCodes. `embeddings`: (vec_id long, embedding array<float> of
    * dim).
    */
  def build(spark: SparkSession, embeddings: DataFrame, dim: Int,
      kCells: Int = 16, m: Int = 8, kCodes: Int = 16,
      seed: Long = 42, residual: Boolean = true): Index = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val unit = unitize(embeddings)
    val sampled = Quantizer.sample(unit,
      Quantizer.PointsPerCentroid * math.max(kCells, kCodes), seed)
    // centroids are stored as float; encode against the stored values
    val cents = Quantizer.train(Quantizer.trainingSet(sampled, kCells),
      0, dim, kCells, seed).map(_.map(_.toFloat.toDouble))
    val pqPoints = Quantizer.trainingSet(sampled, kCodes).map { v =>
      if (residual) Quantizer.minus(v, cents(Quantizer.nearest(v, 0, cents, 0, kCells)))
      else v
    }
    val q = new Quantizers(cents,
      Quantizer.trainBooks(pqPoints, m, kCodes, dim / m, seed), m, kCodes, residual)
    val cells = encodeUnit(q, unit)
    cells.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cells.count()
    Index(Quantizer.centroidTable(spark, cents),
      Quantizer.codebookTable(spark, q.books, kCodes), cells, q, pinned = Some(cells))
  }

  /** Persist the index. `cells` lands partitioned BY CELL — the probe
    * step's cell predicate then prunes whole directories at file
    * listing (PartitionFilters), the same posture AnnIndex proves for
    * raw vectors but over a 32×-smaller code table. Centroids and
    * codebooks are O(k)-row sidecars.
    */
  def save(index: Index, dir: String): Unit = {
    // the residual flag rides the k-row centroid sidecar — an index
    // must be searched in the frame its codes were trained in
    index.centroids.withColumn("residual", lit(index.residual))
      .write.mode("overwrite").parquet(s"$dir/centroids.parquet")
    index.codebooks.write.mode("overwrite").parquet(s"$dir/codebooks.parquet")
    index.cells.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/cells.parquet")
  }

  /** Reload a saved index: the two O(k)-row sidecars collect to the
    * driver once, and every shape parameter follows from them.
    */
  def load(spark: SparkSession, dir: String): Index = {
    val cent0 = spark.read.parquet(s"$dir/centroids.parquet")
    val centRows = cent0.orderBy(col("cell")).collect()
    val centroids = cent0.drop("residual")
    val codebooks = spark.read.parquet(s"$dir/codebooks.parquet")
    val bookRows = codebooks.orderBy(col("sub"), col("code")).collect()
    val books = bookRows.map(_.getAs[scala.collection.Seq[Double]]("centroid").toArray)
    val m = bookRows.last.getAs[Int]("sub") + 1
    val cells = spark.read.parquet(s"$dir/cells.parquet")
      .select(col("vec_id"), col("cell"), col("codes"))
    Index(centroids, codebooks, cells, new Quantizers(
      centRows.map(_.getAs[scala.collection.Seq[Float]]("centroid").map(_.toDouble).toArray),
      books, m, books.length / m, centRows.head.getAs[Boolean]("residual")))
  }

  /** Encode vectors through an EXISTING index's quantizers — the
    * incremental-ingest path of a standing vector store: no refit, just
    * nearest-cell assignment and per-subspace nearest-codebook codes on
    * the residual or raw vector per the index's mode, by the same
    * compiled kernel `build` encoded the corpus with (so re-encoding a
    * built vector reproduces its row exactly). The quantizers ride the
    * task closure as primitive arrays: zero shuffles, no |new|·k
    * intermediate ever materializes, one pass per increment.
    */
  def encode(index: Index, vectors: DataFrame): DataFrame =
    encodeUnit(index.quantizers, unitize(vectors))

  /** A new Index whose serving table includes `newVectors`, encoded by
    * `encode` against the standing quantizers. On disk this is an
    * append of new cell-partition files; centroids/codebooks are
    * unchanged (re-train only when drift warrants a new index
    * generation — the standard IVF maintenance posture).
    */
  def append(index: Index, newVectors: DataFrame): Index =
    index.copy(cells = index.cells.unionByName(encode(index, newVectors)))

  /** IVFADC search: probe → ADC over probed cells → exact cosine
    * re-rank of the shortlist. `vectors` is the raw-embedding relation
    * the index was built from (only shortlist·|queries| rows of it are
    * ever fetched); `queries`: (q_id long, q_emb array<float>).
    * Returns (q_id, vec_id, cos_r, rn) — q50's serving schema, so the
    * approximate path is drop-in for the exact one.
    *
    * `excludeSelf` (default true) drops vec_id == q_id candidates —
    * the self-search semantics of the registered queries, where query
    * ids ARE corpus ids. Pass false when query ids come from a
    * different id space: a numeric collision would otherwise silently
    * drop a true neighbor (see AnnIndex.search).
    */
  /** `search` evaluated at EVERY nProbe of `probeGrid` in one job
    * chain — the calibration sweep's shape (round-17 optimization,
    * guide §2.4: the per-grid-point sequential searches re-paid the
    * probe ranking, the ADC scan and three window passes six times
    * over for one measurement each). The probe ranking runs once to
    * the grid's max, every candidate's ADC score computes once, and a
    * 6-way explode on the grid column replays the per-point shortlist
    * cut as one windowed pass partitioned by (q_id, p). For each p the
    * candidate set (cells with crn <= p), the ADC rounding, the
    * shortlist tiebreak and the exact re-rank are expression-identical
    * to `search(nProbe = p)`, so the returned rows per p are
    * bit-identical to the sequential sweep's. Returns
    * (p, q_id, vec_id, cos_r, rn).
    */
  def searchGrid(index: Index, vectors: DataFrame, queries: DataFrame,
      topK: Int, probeGrid: Seq[Int], shortlist: Int,
      excludeSelf: Boolean = true): DataFrame = {
    CosineSimilarity.ensureRegistered(queries.sparkSession)
    val k = index.kCodes
    val maxProbe = probeGrid.max
    val qUnit = unitize(queries
      .withColumnRenamed("q_emb", "embedding"))
      .withColumnRenamed("embedding", "q_emb")
    val qCells = qUnit
      .crossJoin(broadcast(index.centroids))
      .withColumn("c_sim", expr("cosine_sim(q_emb, centroid)"))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("c_sim").desc, col("cell"))))
      .filter(col("crn") <= maxProbe)
      .select(col("q_id"), col("cell"), col("crn"),
        (if (index.residual) minus(col("q_emb"), col("centroid"))
         else col("q_emb")).as("q_res"))
    val probes = PqIndex.distanceTable(index.codebooks, qCells, k,
      index.subDim, keys = Seq("q_id", "cell", "crn"), vecCol = "q_res")
    val short = index.cells.join(broadcast(probes), Seq("cell"))
      .filter(if (excludeSelf) col("q_id") =!= col("vec_id") else lit(true))
      .withColumn("adc", round(aggregate(
        zip_with(col("codes"), sequence(lit(0), lit(index.m - 1)),
          (c, s) => element_at(col("dt"), s * k + c + 1)),
        lit(0.0), (acc, x) => acc + x), 9))
      .withColumn("p", explode(array(probeGrid.map(lit): _*)))
      .filter(col("crn") <= col("p"))
      .withColumn("srn", row_number().over(
        Window.partitionBy(col("q_id"), col("p"))
          .orderBy(col("adc"), col("vec_id"))))
      .filter(col("srn") <= shortlist)
      .select(col("p"), col("q_id"), col("vec_id"))
    short.join(vectors, Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("cos_r", round(expr("cosine_sim(q_emb, embedding)"), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id"), col("p"))
          .orderBy(col("cos_r").desc, col("vec_id"))))
      .filter(col("rn") <= topK)
      .select(col("p"), col("q_id"), col("vec_id"), col("cos_r"), col("rn"))
  }

  def search(index: Index, vectors: DataFrame, queries: DataFrame,
      topK: Int = 5, nProbe: Int = 8, shortlist: Int = 25,
      excludeSelf: Boolean = true): DataFrame = {
    CosineSimilarity.ensureRegistered(queries.sparkSession)
    val k = index.kCodes
    // queries normalize like the index did (see unitize): the ADC
    // table must measure L2 in the same unit-sphere geometry the codes
    // were trained in. Probe and re-rank metrics are cosine — scale
    // invariant — so they could take either form; they use the same
    // normalized queries to keep one lineage.
    val qUnit = unitize(queries
      .withColumnRenamed("q_emb", "embedding"))
      .withColumnRenamed("embedding", "q_emb")
    // 1. probe: nProbe nearest cells per query, ranked on the broadcast
    //    centroid table — |queries|·kCells rows, never corpus-sized.
    //    Each probe row keeps the query's RESIDUAL against that cell's
    //    centroid: codes quantize residuals, so the ADC table must be
    //    built per (query, probed cell) in the same residual frame.
    val qCells = qUnit
      .crossJoin(broadcast(index.centroids))
      .withColumn("c_sim", expr("cosine_sim(q_emb, centroid)"))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("c_sim").desc, col("cell"))))
      .filter(col("crn") <= nProbe)
      .select(col("q_id"), col("cell"),
        (if (index.residual) minus(col("q_emb"), col("centroid"))
         else col("q_emb")).as("q_res"))
    // 2. ADC scan restricted to probed cells: the broadcast probe set
    //    carries one residual distance table per (query, cell) —
    //    |queries|·nProbe·m·k subspace distances against the broadcast
    //    codebooks (PqIndex.distanceTable, keyed (q_id, cell) over the
    //    residual), still query-scale — so the code scan is one join on
    //    `cell` (partition-pruned when the index is on disk) plus
    //    per-row array lookups
    val probes = PqIndex.distanceTable(index.codebooks, qCells, k,
      index.subDim, keys = Seq("q_id", "cell"), vecCol = "q_res")
    val short = index.cells.join(broadcast(probes), Seq("cell"))
      .filter(if (excludeSelf) col("q_id") =!= col("vec_id") else lit(true))
      .withColumn("adc", round(aggregate(
        zip_with(col("codes"), sequence(lit(0), lit(index.m - 1)),
          (c, s) => element_at(col("dt"), s * k + c + 1)),
        lit(0.0), (acc, x) => acc + x), 9))
      .withColumn("srn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))))
      .filter(col("srn") <= shortlist)
      .select(col("q_id"), col("vec_id"))
    // 3. exact re-rank: only the shortlist fetches raw vectors
    short.join(vectors, Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("cos_r", round(expr("cosine_sim(q_emb, embedding)"), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("vec_id"))))
      .filter(col("rn") <= topK)
      .select(col("q_id"), col("vec_id"), col("cos_r"), col("rn"))
  }
}
