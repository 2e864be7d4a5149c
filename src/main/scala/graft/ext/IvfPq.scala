package graft.ext

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
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
  *   1. probe: rank the kCells centroids per query, keep the nProbe
  *      nearest cells — the scan now touches ~nProbe/kCells of the
  *      corpus;
  *   2. ADC scan: score ONLY the probed cells' PQ codes against the
  *      query's m×k lookup table for that cell — pure array math per
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
  * Serve posture: query-scale state goes to the driver, corpus-scale
  * state never does. The probe ranking and each query's ADC table per
  * probed cell are loops over the collected query batch; the tables
  * ride one broadcast into the one pass over the code table, which
  * persists PARTITIONED BY CELL and so reads only the probed cells'
  * files (a static PartitionFilter, which IvfPqSpec proves). Each
  * partition returns a bounded shortlist per query, and only the
  * shortlisted ids' raw vectors come back for the re-rank.
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

  /** (vec_id, cell, codes) of every vector in `vectors`, one compiled
    * map over the rows that encodes each vector's `Quantizer.unit`
    * form. The index serves COSINE: on unit vectors squared L2 =
    * 2 - 2·cos, so the ADC shortlist's L2 order is monotone with the
    * final cosine metric — without normalizing, PQ's L2 geometry and
    * the cosine re-rank disagree and the shortlist cut silently costs
    * recall (the standard normalize-before-PQ rule of cosine-metric
    * IVF-PQ deployments). Cosine itself is scale invariant, so probing
    * and re-ranking are unchanged.
    */
  private def encodeUnit(q: Quantizers, vectors: DataFrame): DataFrame = {
    import vectors.sparkSession.implicits._
    vectors.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map { case (id, v) =>
        val (cell, codes) = q.encode(Quantizer.unit(v)); (id, cell, codes) }
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
    // the sample's rank depends only on vec_id and the seed, so
    // unitizing the sampled rows gives the sample of the unit corpus
    val sampled = Quantizer.sample(embeddings,
      Quantizer.PointsPerCentroid * math.max(kCells, kCodes), seed)
      .map { case (id, v) => (id, Quantizer.unit(v)) }
    // centroids are stored as float; encode against the stored values
    val cents = Quantizer.train(Quantizer.trainingSet(sampled, kCells),
      0, dim, kCells, seed).map(_.map(_.toFloat.toDouble))
    val pqPoints = Quantizer.trainingSet(sampled, kCodes).map { v =>
      if (residual) Quantizer.minus(v, cents(Quantizer.nearest(v, 0, cents, 0, kCells)))
      else v
    }
    val q = new Quantizers(cents,
      Quantizer.trainBooks(pqPoints, m, kCodes, dim / m, seed), m, kCodes, residual)
    val cells = encodeUnit(q, embeddings)
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
    encodeUnit(index.quantizers, vectors)

  /** A new Index whose serving table includes `newVectors`, encoded by
    * `encode` against the standing quantizers. On disk this is an
    * append of new cell-partition files; centroids/codebooks are
    * unchanged (re-train only when drift warrants a new index
    * generation — the standard IVF maintenance posture).
    */
  def append(index: Index, newVectors: DataFrame): Index =
    index.copy(cells = index.cells.unionByName(encode(index, newVectors)))

  /** The first `nProbe` cells of `cents` for the query `q` as given:
    * cells ranked by `cosine_sim` as `TopK.Descending` orders them.
    */
  private[graft] def probe(cents: Array[Array[Double]], q: Array[Float],
      nProbe: Int): Array[Int] =
    cents.zipWithIndex
      .map { case (c, cell) => (CosineSimilarity.cosine(q, c.map(_.toFloat)), cell.toLong) }
      .sorted(TopK.Descending).take(nProbe).map(_._2.toInt)

  /** The code rows of `cells` — a search's one pass over the code
    * table. On a saved index the predicate is a static PartitionFilter,
    * so only the listed cells' files are read.
    */
  private[graft] def candidates(index: Index, cells: Seq[Int]): DataFrame =
    index.cells.filter(col("cell").isin(cells: _*))
      .select(col("vec_id"), col("cell"), col("codes"))

  /** The query-side state of a search, built on the driver: per query,
    * its id, every cell's probe rank (1-based, 0 = not probed) and
    * every probed cell's ADC table (`null` elsewhere).
    */
  private[ext] final class Probes(val qIds: Array[Long], val rank: Array[Array[Int]],
      val tables: Array[Array[Array[Double]]]) extends Serializable

  /** IVFADC search at every nProbe of `probeGrid`: probe → ADC shortlist
    * over the probed cells → exact cosine re-rank. `vectors` is the
    * raw-embedding relation the index was built from; `queries`: (q_id
    * long, q_emb array<float>), one row per q_id. Returns (p, q_id,
    * vec_id, cos_r, rn) in (p, q_id, rn) order — per p, q50's serving
    * schema, so the approximate path is drop-in for the exact one.
    *
    * A search is at most three Spark jobs for any grid: the query
    * collect (none for a local frame), the one pass over the probed
    * cells' codes and the fetch of the shortlists' raw vectors.
    * Roundings and tie-breaks are Spark's (`round`,
    * `SQLOrderingUtil.compareDoubles`, vec_id last), so the rows equal
    * those of the windowed plan IvfPqSpec keeps as the reference.
    * `excludeSelf` (default true) drops vec_id == q_id candidates
    * (see AnnIndex.search).
    */
  def searchGrid(index: Index, vectors: DataFrame, queries: DataFrame,
      topK: Int, probeGrid: Seq[Int], shortlist: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val spark = queries.sparkSession
    val grid = probeGrid.distinct.sorted.toArray
    val qs = TopK.queries(queries)
    val q = index.quantizers
    // 1. driver: queries normalize like the index did (see encodeUnit), so
    //    the ADC tables measure L2 in the geometry the codes were
    //    trained in; the re-rank scores the raw query
    val rank = Array.fill(qs.length)(new Array[Int](index.kCells))
    val tables = Array.fill(qs.length)(new Array[Array[Double]](index.kCells))
    qs.indices.foreach { i =>
      val u = Quantizer.unit(qs(i)._2)
      probe(q.cents, u, grid.max).zipWithIndex.foreach { case (cell, r) =>
        rank(i)(cell) = r + 1
        tables(i)(cell) = Quantizer.adcTable(
          if (q.residual) Quantizer.minus(u, q.cents(cell)) else u, q.books, q.m, q.k)
      }
    }
    val probed = (0 until index.kCells).filter(c => rank.exists(_(c) > 0))
    // 2. executors: one pass over the probed cells' codes
    val g = grid.length
    val short = adcScan(candidates(index, probed), new Probes(qs.map(_._1), rank, tables),
      grid, q.k, if (probed.isEmpty) 0 else shortlist, excludeSelf)
    // 3. exact re-rank of the shortlists on the driver
    val ranked = reRank(vectors, short, topK, TopK.Descending)((l, v) =>
      Quantizer.round(CosineSimilarity.cosine(qs(l / g)._2, v), 6))
    val byQuery = qs.indices.sortBy(qs(_)._1)
    val rows = for {
      j <- grid.indices
      i <- byQuery
      ((cos, id), r) <- ranked(i * g + j).zipWithIndex
    } yield Row(grid(j), qs(i)._1, id, cos, r + 1)
    spark.createDataFrame(rows.asJava, GridSchema)
  }

  /** Step 2, the ADC scan: one `TopK.pass` over `rows` (vec_id, cell,
    * codes). Query i offers the rows of a cell of probe rank r to list
    * i·|grid| + j for every `grid(j)` ≥ r; each keeps `shortlist`.
    */
  private[ext] def adcScan(rows: DataFrame, pr: Probes, grid: Array[Int], k: Int,
      shortlist: Int, excludeSelf: Boolean): Array[Array[(Double, Long)]] = {
    import rows.sparkSession.implicits._
    val g = grid.length
    TopK.pass(rows.as[(Long, Int, Array[Int])].rdd, pr, pr.qIds.length * g,
        shortlist, TopK.Ascending) { (pr, part, lists) =>
      part.foreach { case (id, cell, codes) =>
        var i = 0
        while (i < pr.qIds.length) {
          val r = pr.rank(i)(cell)
          if (r > 0 && !(excludeSelf && pr.qIds(i) == id)) {
            val hit = (Quantizer.adc(pr.tables(i)(cell), codes, k), id)
            var j = 0
            while (j < g) { if (r <= grid(j)) lists(i * g + j).offer(hit); j += 1 }
          }
          i += 1
        }
      }
    }
  }

  /** Step 3, the exact re-rank: one collect of the shortlisted ids'
    * raw `vectors`; list l keeps its `topK` best (score(l, v), vec_id).
    */
  private[ext] def reRank(vectors: DataFrame, short: Array[Array[(Double, Long)]],
      topK: Int, ord: Ordering[(Double, Long)])(
      score: (Int, Array[Float]) => Double): Array[Array[(Double, Long)]] = {
    val ids = short.iterator.flatMap(_.iterator.map(_._2)).toSet
    val raw = if (ids.isEmpty) Map.empty[Long, Array[Array[Float]]]
      else vectors.select(col("vec_id"), col("embedding"))
        .filter(col("vec_id").isin(ids.toSeq: _*)).collect()
        .groupBy(_.getLong(0))
        .map { case (id, rs) => id -> rs.map(_.getSeq[Float](1).toArray) }
    short.zipWithIndex.map { case (list, l) =>
      list.flatMap { case (_, id) =>
        raw.getOrElse(id, Array.empty[Array[Float]]).map(v => (score(l, v), id))
      }.sorted(ord).take(topK)
    }
  }

  private val GridSchema = StructType(Seq(
    StructField("p", IntegerType, nullable = false),
    StructField("q_id", LongType, nullable = false),
    StructField("vec_id", LongType, nullable = false),
    StructField("cos_r", DoubleType, nullable = false),
    StructField("rn", IntegerType, nullable = false)))

  /** `searchGrid` at the one grid point `nProbe`: (q_id, vec_id, cos_r,
    * rn) in (q_id, rn) order.
    */
  def search(index: Index, vectors: DataFrame, queries: DataFrame,
      topK: Int = 5, nProbe: Int = 8, shortlist: Int = 25,
      excludeSelf: Boolean = true): DataFrame =
    searchGrid(index, vectors, queries, topK, Seq(nProbe), shortlist, excludeSelf)
      .drop("p")
}
