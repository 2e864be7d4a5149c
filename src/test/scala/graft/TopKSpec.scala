package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ext.TopK

/** The shared top-k orderings and heaps against Spark's own sort, on
  * one small local frame of (score, id) pairs: NaN, ±0.0, ±Infinity and
  * tied scores, ids permuted so the id tiebreak decides every tie.
  */
class TopKSpec extends SparkSpec {

  // 0.0 carries a lower id than −0.0: a sort that put −0.0 below 0.0
  // would order them the other way
  private val pairs: Seq[(Double, Long)] = Seq(
    (Double.NaN, 9L), (-0.0, 4L), (0.0, 2L), (Double.PositiveInfinity, 7L),
    (Double.NegativeInfinity, 1L), (1.5, 8L), (1.5, 3L), (-2.0, 12L),
    (Double.NaN, 0L), (0.0, 11L), (Double.MaxValue, 5L), (-Double.MaxValue, 6L),
    (Double.MinPositiveValue, 10L), (-0.0, 13L), (Double.PositiveInfinity, 14L))

  private def bits(ps: Seq[(Double, Long)]): Seq[(Long, Long)] =
    ps.map { case (s, id) => (java.lang.Double.doubleToRawLongBits(s), id) }

  private def sparkOrder(score: Column): Seq[(Double, Long)] =
    spark.createDataFrame(pairs).toDF("score", "id").repartition(3)
      .orderBy(score, col("id")).collect().toSeq
      .map(r => (r.getDouble(0), r.getLong(1)))

  test("Descending and Ascending sort as Spark's orderBy(score desc/asc, id)") {
    assert(bits(pairs.sorted(TopK.Descending)) === bits(sparkOrder(col("score").desc)))
    assert(bits(pairs.sorted(TopK.Ascending)) === bits(sparkOrder(col("score").asc)))
  }

  test("a Shortlist keeps sorted(ord).take(cap) at cap 0, 1 and beyond the offers") {
    for (ord <- Seq(TopK.Descending, TopK.Ascending);
         cap <- Seq(0, 1, 4, pairs.size, pairs.size + 3)) {
      val l = new TopK.Shortlist(cap, ord)
      pairs.foreach(l.offer)
      val want = pairs.sorted(ord).take(cap)
      assert(bits(l.hits.toSeq.sorted(ord)) === bits(want), s"cap=$cap")
      assert(l.size === want.size, s"cap=$cap")
      if (cap > 0) assert(bits(Seq(l.worst)) === bits(Seq(want.last)), s"cap=$cap")
    }
  }

  test("pass merges every partition's shortlists into each list's best, in one job") {
    val rows = spark.sparkContext.parallelize(pairs, 4)
    // list 0 takes every pair, list 1 the even ids, scaled by the state
    def run(lists: Int, cap: Int) = jobsOf(TopK.pass(rows, 2.0, lists, cap,
        TopK.Descending) { (w, part, tops) =>
      part.foreach { case (s, id) =>
        tops(0).offer((s, id))
        if (tops.length > 1 && id % 2 == 0) tops(1).offer((s * w, id))
      }
    })
    val (got, jobs) = run(2, 3)
    assert(jobs === 1)
    assert(bits(got(0).toSeq) === bits(pairs.sorted(TopK.Descending).take(3)))
    assert(bits(got(1).toSeq) === bits(pairs.filter(_._2 % 2 == 0)
      .map { case (s, id) => (s * 2.0, id) }.sorted(TopK.Descending).take(3)))
    val (none, noJobs) = run(0, 3)
    assert(none.isEmpty && noJobs === 0)
    val (zero, zeroJobs) = run(2, 0)
    assert(zero.map(_.length).toSeq === Seq(0, 0) && zeroJobs === 0)
  }
}
