package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The k-means trainer and nearest-centroid rule shared by the three
  * ANN indexes (`AnnIndex`, `PqIndex`, `IvfPq`).
  *
  * Training runs on the driver over a bounded sample: at most
  * `PointsPerCentroid · k` rows (FAISS's points-per-centroid rule — more
  * rows move the centroids too little to pay for the scan), chosen by
  * the rank of a seeded hash of `vec_id` and ordered by `vec_id`. The
  * sample therefore depends only on the ids and the seed, never on
  * partitioning, and one Spark job collects it; k-means++ seeding and
  * Lloyd rounds then run as plain loops over primitive arrays. A fit is
  * microseconds of arithmetic per round at index scale, so one job
  * replaces the tens of small Spark jobs a distributed fit launches per
  * round.
  *
  * Distances are squared L2 accumulated in double (float inputs promote
  * exactly), and every argmin breaks ties towards the lowest centroid
  * id — the same rule for training, for the build's encode and for
  * incremental `IvfPq.encode`, so a vector always lands where training
  * would have put it.
  */
object Quantizer {

  val PointsPerCentroid = 256
  val MaxIter = 20

  /** Up to `cap` rows of (vec_id, embedding): the `cap` smallest by
    * (seeded hash of vec_id, vec_id), returned in that rank order. A
    * prefix of the result is the same sample drawn with a smaller cap,
    * so one collect serves quantizers of different sizes (see
    * `trainingSet`). One top-k job; partitioning cannot change it.
    */
  def sample(vectors: DataFrame, cap: Int, seed: Long): Array[(Long, Array[Float])] =
    vectors
      .select(col("vec_id"), col("embedding"),
        xxhash64(col("vec_id"), lit(seed)).as("_h"))
      .orderBy(col("_h"), col("vec_id"))
      .limit(cap)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  /** The training rows for k centroids: the first `PointsPerCentroid·k`
    * of a `sample`, ordered by vec_id.
    */
  def trainingSet(sampled: Array[(Long, Array[Float])], k: Int): Array[Array[Float]] =
    sampled.take(PointsPerCentroid * k).sortBy(_._1).map(_._2)

  /** Index of the centroid among `centers(from until from + k)` nearest
    * to `v(off until off + len)`, len = the centroids' width; ties go to
    * the lowest index, and a NaN distance loses to any number (Spark's
    * ordering of doubles). Returns an offset in `0 until k`.
    */
  def nearest(v: Array[Float], off: Int, centers: Array[Array[Double]],
      from: Int, k: Int): Int = {
    var best = 0
    var bestD = 0.0
    var j = 0
    while (j < k) {
      val d = dist(v, off, centers(from + j))
      if (j == 0 || d < bestD || (java.lang.Double.isNaN(bestD) && !java.lang.Double.isNaN(d))) {
        best = j; bestD = d
      }
      j += 1
    }
    best
  }

  /** Element-wise v - c, rounded to float (the residual a vector keeps
    * after its cell centroid is subtracted).
    */
  def minus(v: Array[Float], c: Array[Double]): Array[Float] = {
    val out = new Array[Float](v.length)
    var i = 0
    while (i < v.length) { out(i) = (v(i).toDouble - c(i)).toFloat; i += 1 }
    out
  }

  /** Exactly k centroids over `points(_)(off until off + len)`: seeded
    * k-means++ then at most `MaxIter` Lloyd rounds. With fewer than k
    * distinct points the surplus centroids duplicate chosen ones, so
    * every code in `0 until k` names a centroid; an emptied cluster
    * keeps its previous centroid.
    */
  def train(points: Array[Array[Float]], off: Int, len: Int, k: Int,
      seed: Long): Array[Array[Double]] = {
    require(points.nonEmpty, "cannot train a quantizer on no points")
    val n = points.length
    val rng = new java.util.Random(seed)
    def point(i: Int): Array[Double] = Array.tabulate(len)(j => points(i)(off + j).toDouble)
    val centers = new Array[Array[Double]](k)
    centers(0) = point(rng.nextInt(n))
    val d2 = Array.tabulate(n)(i => dist(points(i), off, centers(0)))
    var c = 1
    while (c < k) {
      val total = d2.sum
      val pick =
        if (!(total > 0.0)) rng.nextInt(n) // every point is already a centroid
        else {
          val r = rng.nextDouble() * total
          var acc = 0.0
          var i = 0
          var chosen = -1
          while (i < n && chosen < 0) {
            acc += d2(i)
            if (acc > r && d2(i) > 0.0) chosen = i
            i += 1
          }
          if (chosen >= 0) chosen else d2.lastIndexWhere(_ > 0.0)
        }
      centers(c) = point(pick)
      var i = 0
      while (i < n) {
        d2(i) = math.min(d2(i), dist(points(i), off, centers(c)))
        i += 1
      }
      c += 1
    }
    val assign = Array.fill(n)(-1)
    var iter = 0
    var changed = true
    while (changed && iter < MaxIter) {
      changed = false
      var i = 0
      while (i < n) {
        val a = nearest(points(i), off, centers, 0, k)
        if (a != assign(i)) { assign(i) = a; changed = true }
        i += 1
      }
      if (changed) {
        val sums = Array.ofDim[Double](k, len)
        val counts = new Array[Int](k)
        i = 0
        while (i < n) {
          val s = sums(assign(i))
          var j = 0
          while (j < len) { s(j) += points(i)(off + j); j += 1 }
          counts(assign(i)) += 1
          i += 1
        }
        var j = 0
        while (j < k) {
          if (counts(j) > 0) centers(j) = sums(j).map(_ / counts(j))
          j += 1
        }
      }
      iter += 1
    }
    centers
  }

  private def dist(v: Array[Float], off: Int, c: Array[Double]): Double = {
    var d = 0.0
    var i = 0
    while (i < c.length) {
      val x = v(off + i).toDouble - c(i)
      d += x * x
      i += 1
    }
    d
  }

  /** One codebook of k centroids per subspace, subspace s trained with
    * seed + s; row `s·k + code` of the result is that code's centroid
    * (the `sub·k + code` slot order of `PqIndex.distanceTable`).
    */
  def trainBooks(points: Array[Array[Float]], m: Int, k: Int, subDim: Int,
      seed: Long): Array[Array[Double]] =
    (0 until m).flatMap(s => train(points, s * subDim, subDim, k, seed + s)).toArray

  /** The stored form of cell centroids: (cell int, centroid
    * array<float>).
    */
  def centroidTable(spark: SparkSession, cents: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    cents.toSeq.zipWithIndex
      .map { case (c, cell) => (cell, c.map(_.toFloat)) }.toDF("cell", "centroid")
  }

  /** The stored form of `trainBooks`' codebooks: (sub int, code int,
    * centroid array<double>).
    */
  def codebookTable(spark: SparkSession, books: Array[Array[Double]], k: Int): DataFrame = {
    import spark.implicits._
    books.toSeq.zipWithIndex
      .map { case (c, i) => (i / k, i % k, c) }.toDF("sub", "code", "centroid")
  }

  /** The m product-quantization codes of `v`: per subspace, the nearest
    * row of that subspace's codebook.
    */
  def codes(v: Array[Float], books: Array[Array[Double]], m: Int, k: Int): Array[Int] = {
    val subDim = books(0).length
    val out = new Array[Int](m)
    var s = 0
    while (s < m) { out(s) = nearest(v, s * subDim, books, s * k, k); s += 1 }
    out
  }
}
