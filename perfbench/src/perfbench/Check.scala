package perfbench

import org.apache.spark.sql.Row

/** Reference answers: the first answer of each op becomes its reference,
  * and every later answer must digest the same.
  */
final class References {
  private val refs = scala.collection.mutable.HashMap.empty[String, String]

  def check(key: String, rows: Array[Row]): Boolean = {
    val d = Check.digest(rows)
    refs.get(key) match {
      case None => refs(key) = d; rows.nonEmpty
      case Some(ref) => ref == d
    }
  }

  def digests: Map[String, String] = refs.toMap
}

/** Output checks and the summary statistics the benchmark reports. */
object Check {

  /** Order-insensitive digest of collected rows: each row renders with
    * floats rounded to 4 significant digits, rows hash independently and
    * the hashes are summed, so any row order gives the same digest.
    */
  def digest(rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "∅"
      case d: Double => roundSig(d)
      case f: Float => roundSig(f.toDouble)
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + "→" + render(x) }.sorted.mkString("{", ",", "}")
      case x => x.toString
    }
    val sum = rows.foldLeft(BigInt(0)) { (acc, r) =>
      acc + BigInt(1, java.security.MessageDigest.getInstance("SHA-256")
        .digest(render(r).getBytes("UTF-8")).take(12))
    }
    s"${rows.length}:${(sum % (BigInt(1) << 96)).toString(16)}"
  }

  private def roundSig(d: Double): String =
    if (d.isNaN || d.isInfinite || d == 0.0) d.toString
    else new java.math.BigDecimal(d).round(new java.math.MathContext(4)).stripTrailingZeros.toPlainString

  /** Exact cosine top-k ids for each query against the corpus. */
  def exactTopK(corpus: Array[(Long, Array[Float])],
      queries: Array[(Long, Array[Float])], k: Int): Map[Long, Set[Long]] = {
    def norm(v: Array[Float]): Array[Double] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(_ / n)
    }
    val c = corpus.map { case (id, v) => (id, norm(v)) }
    queries.map { case (qid, qv) =>
      val q = norm(qv)
      qid -> c.map { case (id, v) =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * q(i); i += 1 }
        (id, s)
      }.sortBy(x => (-x._2, x._1)).take(k).map(_._1).toSet
    }.toMap
  }

  /** recall@k: share of the exact top-k ids the served answer returned. */
  def recall(served: Map[Long, Seq[Long]], exact: Map[Long, Set[Long]]): Double = {
    val hits = exact.toSeq.map { case (q, ids) => served.getOrElse(q, Nil).toSet.intersect(ids).size }
    hits.sum.toDouble / exact.values.map(_.size).sum
  }

  /** Linear-interpolated percentile (p in [0, 100]) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.size == 1) s.head
    else {
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest of a fixed ladder of percentiles that leaves at least
    * ten samples beyond it, or None when there are fewer than 20.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75, 50).find(p => xs.size * (100 - p) / 100.0 >= 10.0)
      .map(p => (p, percentile(xs, p)))
}
