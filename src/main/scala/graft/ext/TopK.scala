package graft.ext

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil

/** Top-k per list in one pass — the IVF-PQ code scan, q61, the lexical
  * arm and the exact cosine top-k: REPOSE's (ICDE 2021) per-partition
  * local top-k with a global merge. Query-scale state is broadcast,
  * corpus-scale state never reaches the driver, which merges at most
  * partitions·lists·cap values.
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
}
