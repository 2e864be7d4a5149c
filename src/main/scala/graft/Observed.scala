package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One-pass observed metrics: run `action` on `df` with `aggs`
  * aggregated over df's rows on the SAME pass, instead of a second
  * action that re-reads what the first one just wrote or collected.
  * `observe` plants a CollectMetrics node at df's plan position, so
  * every df row flows through it whatever the action adds on top
  * (a parquet write, an explode + groupBy, a checkpoint).
  *
  * Returns the action's result and the metrics row, or None when the
  * row did not arrive. On None the caller computes the same aggregate
  * its own way (a re-read, a separate agg) — every caller's fallback
  * is value-identical, so a missed row costs time, never a wrong
  * answer. Each miss bumps `fallbacks(site)` and logs one
  * `[Observed] WARN` line, so a bus that drops events shows up as a
  * count instead of an unexplained slowdown.
  *
  * Why not Spark's `Observation` helper: it initializes the session's
  * lazy `observationManager`, whose value is not java-serializable.
  * Spark ML models keep their training summary's SparkSession inside
  * the scoring UDF closure, so one Observation anywhere in the session
  * made every later ML-model transform fail with "Task not
  * serializable" (Round23OptSpec pins this). The string-named
  * `observe` overload plants the same node without touching the
  * manager; the row comes back through a scoped QueryExecutionListener
  * keyed on a per-call unique name.
  *
  * Timeout: one wait of `TimeoutSeconds`. The listener event lands
  * within milliseconds of the action on a healthy bus; a longer wait
  * only stalls a commit or an EM round when the event is lost.
  *
  * When the observed value equals the direct aggregate under retries:
  *  - An observe in the RESULT stage (the segment-write and
  *    delete-vector folds, the label-propagation checkpoint) is
  *    applied once per partition, whatever the task retries.
  *  - Spark never merges metric updates from failed task attempts.
  *  - An observe BELOW a shuffle (the EM loss under the unigram
  *    trainer's explode/groupBy) runs in a map stage, and a map stage
  *    that re-runs after a lost shuffle output applies it again.
  *    `local[N]` never re-runs a map stage; a cluster can.
  */
private[graft] object Observed {
  val TimeoutSeconds = 5L

  private val fallbackCounts = new ConcurrentHashMap[String, AtomicLong]()
  private val suppressed = ThreadLocal.withInitial[Boolean](() => false)

  /** Times `site` fell back because its metrics row was missing. */
  def fallbacks(site: String): Long =
    Option(fallbackCounts.get(site)).fold(0L)(_.get())

  /** TEST HOOK: inside `body`, every call on this thread returns None
    * at once, which forces each caller's fallback without waiting out
    * the timeout.
    */
  def suppress[A](body: => A): A = {
    val prev = suppressed.get
    suppressed.set(true)
    try body finally suppressed.set(prev)
  }

  def apply[A](site: String, df: DataFrame, aggs: Column*)(
      action: DataFrame => A): (A, Option[Row]) = {
    val spark = df.sparkSession
    val name = s"__graft_${site}_${UUID.randomUUID().toString.take(12)}"
    @volatile var metric: Option[Row] = None
    val latch = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        qe.observedMetrics.get(name).foreach { r =>
          metric = Some(r)
          latch.countDown()
        }
      override def onFailure(fn: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (res, row) =
      try {
        val res = action(df.observe(name, aggs.head, aggs.tail: _*))
        val arrived = !suppressed.get &&
          latch.await(TimeoutSeconds, TimeUnit.SECONDS)
        (res, if (arrived) metric else None)
      } finally spark.listenerManager.unregister(listener)
    if (row.isEmpty) {
      val n = fallbackCounts.computeIfAbsent(site, _ => new AtomicLong)
        .incrementAndGet()
      System.err.println("[Observed] WARN metrics row missing (no listener " +
        s"event within ${TimeoutSeconds}s), caller falls back to its " +
        s"re-read; site=$site fallbacks=$n")
    }
    (res, row)
  }
}
