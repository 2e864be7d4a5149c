package graft.ext

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.CosineSimilarity

/** Top-k per list in one pass — the IVF-PQ and PQ code scans, q61, the
  * lexical arm and the exact cosine top-k (q50, IVF): REPOSE's (ICDE
  * 2021) per-partition local top-k with a global merge. Query-scale
  * state is broadcast, corpus-scale state never reaches the driver,
  * which merges at most partitions·lists·cap values.
  */
object TopK {

  /** (score, id) pairs by score in Spark's sort order (NaN above every
    * number, −0.0 = 0.0; `sign` −1 for descending), ties to the lower
    * id.
    */
  private def byScore(sign: Int): Ordering[(Double, Long)] = (a, b) => {
    val c = sign * SQLOrderingUtil.compareDoubles(a._1, b._1)
    if (c != 0) c else java.lang.Long.compare(a._2, b._2)
  }

  /** `orderBy(score, id)`: the IVF-PQ shortlist cut's (adc, vec_id). */
  private[graft] val Ascending: Ordering[(Double, Long)] = byScore(1)

  /** `orderBy(score.desc, id)`: every cosine, idf and rrf ranking. */
  private[graft] val Descending: Ordering[(Double, Long)] = byScore(-1)

  /** The `cap` least values offered, by `ord` — the rows `row_number()
    * <= cap` over that order keeps. `worst` is the value a new one must
    * precede once `size` reaches `cap`.
    */
  private[graft] final class Shortlist[T](cap: Int, ord: Ordering[T]) {
    private val heap = new java.util.PriorityQueue[T](ord.reverse)
    def size: Int = heap.size
    def worst: T = heap.peek
    def offer(h: T): Unit =
      if (heap.size < cap) heap.add(h)
      else if (cap > 0 && ord.lt(h, heap.peek)) { heap.poll(); heap.add(h) }
    def hits: Iterator[T] = heap.iterator.asScala
  }

  /** Each of `lists` lists' `cap` best values by `ord`, in order, over
    * every partition of `rows`: `state` is broadcast, and `visit` fills
    * one partition's shortlists (one per list) from its rows. One Spark
    * job; none when there are no lists or `cap <= 0`.
    */
  private[graft] def pass[R, S: ClassTag, T: ClassTag](rows: RDD[R], state: S,
      lists: Int, cap: Int, ord: Ordering[T])(
      visit: (S, Iterator[R], Array[Shortlist[T]]) => Unit): Array[Array[T]] =
    if (lists <= 0 || cap <= 0) Array.fill(lists)(Array.empty[T])
    else {
      val bc = rows.sparkContext.broadcast(state)
      try {
        val hits = rows.mapPartitions { part =>
          val tops = Array.fill(lists)(new Shortlist(cap, ord))
          visit(bc.value, part, tops)
          tops.iterator.zipWithIndex.flatMap { case (t, i) => t.hits.map((i, _)) }
        }.collect()
        val merged = Array.fill(lists)(new Shortlist(cap, ord))
        hits.foreach { case (i, h) => merged(i).offer(h) }
        merged.map(_.hits.toArray.sorted(ord))
      } finally bc.destroy()
    }

  /** A (q_id, q_emb) query frame, collected. */
  private[graft] def queries(df: DataFrame): Array[(Long, Array[Float])] = {
    import df.sparkSession.implicits._
    df.select(col("q_id"), col("q_emb")).as[(Long, Array[Float])].collect()
  }

  /** Exact cosine top-k (the q50 kernel): one `pass` keeps, per q_id
    * of `qs`, the `topK` rows of `corpus` (vec_id, embedding[, cell]) by
    * (round(cosine, 6) desc, vec_id), skipping vec_id = q_id when
    * `excludeSelf` and, with `admits`, cells c where `!admits(i)(c)`
    * for query i. A local (q_id, vec_id, cos_r, rn) frame.
    */
  private[graft] def cosine(corpus: DataFrame, qs: Array[(Long, Array[Float])],
      topK: Int, excludeSelf: Boolean,
      admits: Option[Array[Array[Boolean]]] = None): DataFrame = {
    import corpus.sparkSession.implicits._
    val ids = qs.map(_._1).distinct.sorted
    val at = qs.map(q => java.util.Arrays.binarySearch(ids, q._1))
    val rows = corpus.select(col("vec_id"), col("embedding"),
      if (admits.isEmpty) lit(0).as("cell") else col("cell"))
    val tops = pass(rows.as[(Long, Array[Float], Int)].rdd,
        (qs, at, admits.orNull), ids.length, topK, Descending) {
        case ((qs, at, adm), part, tops) =>
      part.foreach { case (id, v, cell) =>
        var i = 0
        while (i < qs.length) {
          if (!(excludeSelf && qs(i)._1 == id) && (adm == null || adm(i)(cell)))
            tops(at(i)).offer((Quantizer.round(CosineSimilarity.cosine(qs(i)._2, v), 6), id))
          i += 1
        }
      }
    }
    frame(corpus.sparkSession, ids, tops)
  }

  /** Ranked lists as a local (q_id, vec_id, `score`, rn) frame in list
    * order: list i holds `ids(i)`'s hits, best first.
    */
  private[graft] def frame(spark: SparkSession, ids: Seq[Long],
      tops: Seq[Array[(Double, Long)]], score: String = "cos_r"): DataFrame = {
    val rows = ids.indices.flatMap { i =>
      tops(i).iterator.zipWithIndex.map { case ((d, v), r) => Row(ids(i), v, d, r + 1) }
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("q_id", LongType), StructField("vec_id", LongType),
      StructField(score, DoubleType), StructField("rn", IntegerType, nullable = false))))
  }
}
