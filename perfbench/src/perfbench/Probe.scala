package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.jackson.JsonMethods

/** Counters fed by the benchmark's own SparkListener and
  * QueryExecutionListener. Job intervals are kept (epoch ms) so wall
  * time can be split into time inside some job (interval union) and
  * driver time outside any job.
  */
final class Probe(spark: SparkSession) {
  final class Totals {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskRunMs = 0L; var taskCpuNs = 0L; var gcMs = 0L; var taskWaitMs = 0L
    var shuffleReadB = 0L; var shuffleWriteB = 0L; var spillB = 0L; var inputB = 0L
    var executions = 0L; var analysisNs = 0L; var optimizationNs = 0L
    var planningNs = 0L
  }
  val t = new Totals
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStarts = mutable.HashMap.empty[Int, Long]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = t.synchronized {
      t.jobs += 1; jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = t.synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      t.synchronized { t.stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = t.synchronized {
      t.tasks += 1
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        t.taskRunMs += m.executorRunTime
        t.taskCpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        t.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        t.inputB += m.inputMetrics.bytesRead
        // time the task spent scheduled but not running its body:
        // launch delay, deserialisation, result serialisation and fetch
        if (info != null)
          t.taskWaitMs += math.max(0L, info.duration - m.executorRunTime)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ns(p: String): Long = ph.get(p).map(x => (x.endTimeMs - x.startTimeMs) * 1000000L).getOrElse(0L)
      t.synchronized {
        t.executions += 1
        t.analysisNs += ns("analysis")
        t.optimizationNs += ns("optimization")
        t.planningNs += ns("planning")
      }
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Counter snapshot, as a name → value map in the metric's unit. */
  def snapshot(): Map[String, Double] = t.synchronized {
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> t.jobs.toDouble,
      "spark.stages" -> t.stages.toDouble,
      "spark.tasks" -> t.tasks.toDouble,
      "spark.task_run_s" -> t.taskRunMs / 1e3,
      "spark.task_cpu_s" -> t.taskCpuNs / 1e9,
      "spark.gc_s" -> t.gcMs / 1e3,
      "spark.task_wait_s" -> t.taskWaitMs / 1e3,
      "spark.shuffle_read_mb" -> t.shuffleReadB / mb,
      "spark.shuffle_write_mb" -> t.shuffleWriteB / mb,
      "spark.spill_mb" -> t.spillB / mb,
      "spark.input_mb" -> t.inputB / mb,
      "catalyst.executions" -> t.executions.toDouble,
      "catalyst.analysis_s" -> t.analysisNs / 1e9,
      "catalyst.optimization_s" -> t.optimizationNs / 1e9,
      "catalyst.planning_s" -> t.planningNs / 1e9)
  }

  /** Job intervals overlapping [t0, t1] (epoch ms), clipped to it. */
  def jobsWithin(t0: Long, t1: Long): Seq[(Long, Long)] = t.synchronized {
    jobIntervals.iterator.filter { case (a, b) => b > t0 && a < t1 }
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }.toSeq
  }
}

object Probe {
  /** Length of the union of intervals. */
  def unionLength(xs: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spans around each layer call the benchmark makes. Without a probe, or
  * outside the timed loop, it only runs the body. Otherwise it records name, start, end, parent and op
  * id, with listener counter snapshots at both boundaries, in memory.
  */
final class Tracer(probe: Option[Probe]) {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
      startMs: Long, endMs: Long, startNs: Long, endNs: Long,
      before: Map[String, Double], after: Map[String, Double])

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack = List.empty[Int]
  var op: Int = -1

  /** Spans are recorded only while this is on: the timed loop. */
  var recording = false

  def apply[T](name: String)(body: => T): T = probe match {
    case Some(p) if recording =>
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      p.drain()
      val before = p.snapshot()
      val ms0 = System.currentTimeMillis(); val ns0 = System.nanoTime()
      stack = id :: stack
      try body
      finally {
        val ns1 = System.nanoTime(); val ms1 = System.currentTimeMillis()
        stack = stack.tail
        p.drain()
        spans += Span(id, name, parent, op, ms0, ms1, ns0, ns1, before, p.snapshot())
      }
    case _ => body
  }

  def dur(s: Span): Double = (s.endNs - s.startNs) / 1e9

  /** Seconds of `s` not covered by its child spans. */
  def selfTime(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).toSeq
    dur(s) - Probe.unionLength(kids) / 1e9
  }

  def toJson: String = {
    import org.json4s._
    JsonMethods.pretty(JsonMethods.render(JArray(spans.toList.map { s =>
      val deltas = s.after.map { case (k, v) => k -> (v - s.before.getOrElse(k, 0.0)) }
        .filter(_._2 != 0.0)
      JObject("id" -> JInt(s.id), "name" -> JString(s.name),
        "parent" -> JInt(s.parent), "op" -> JInt(s.op),
        "start_ms" -> JInt(s.startMs), "end_ms" -> JInt(s.endMs),
        "dur_s" -> Json.num(dur(s)), "self_s" -> Json.num(selfTime(s)),
        "counts" -> JObject(deltas.toList.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))
    })))
  }
}
