package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite {
  // lazy val (a stable identifier — suites `import spark.implicits._`),
  // resolved per SUITE INSTANCE against the self-healing
  // SparkSpec.session: a context killed mid-run (executor-thread OOM
  // under heap pressure shut the shared SparkContext down in the
  // round-17 driver gate and every LATER suite died with "SparkContext
  // has been shutdown") now costs at most the suite that hit it — the
  // next suite's access rebuilds the session, naming itself.
  lazy val spark: SparkSession = SparkSpec.session(suiteName)
  val sfDir = "/root/testdata/sf0.001"

  /** Plan-shape assertions need AQE off: `AdaptiveSparkPlanExec` is a
    * leaf pre-execution, so `executedPlan.collect` finds nothing inside
    * it and assertions pass vacuously. Restores the conf and releases
    * any query-pinned caches afterwards.
    */
  protected def staticPlan[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally {
      spark.conf.set("spark.sql.adaptive.enabled", prev)
      GraftEngine.releaseCaches()
    }
  }

  /** The Spark jobs `body` runs: jobs carry this thread's job group; a
    * marker job run afterwards proves every earlier start event has
    * reached the listener (the listener bus delivers in order).
    */
  protected def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"counted-jobs-${java.util.UUID.randomUUID}"
    val groups = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(
          Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = body
      sc.setJobGroup(group + "-marker", "marker")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains(group + "-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(group + "-marker"), "marker job never observed")
      (out, groups.toArray.count(_ == group))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  @volatile private var cached: SparkSession = _
  @volatile private var rebuilds = 0

  // a context death must not pass silently: the run's tail says how
  // many times the session was rebuilt
  sys.addShutdownHook(System.err.println(s"[SparkSpec] session rebuilds: $rebuilds"))

  /** The shared suite session, rebuilt if the previous one's context
    * was stopped (fail-fast recovery instead of cascading every later
    * suite's assertions into "SparkContext has been shutdown"). Memo
    * entries keyed on the dead session are simply never hit again —
    * their blocks died with the old context's BlockManager. `suite`
    * names the suite that found the context stopped.
    */
  def session(suite: String): SparkSession = synchronized {
    if (cached == null || cached.sparkContext.isStopped) {
      if (cached != null) {
        rebuilds += 1
        System.err.println("[SparkSpec] shared SparkContext was stopped — " +
          s"rebuilding the suite session for $suite (state memoized on " +
          "the dead session is dropped)")
      }
      cached = build()
    }
    cached
  }

  private def build(): SparkSession = {
    val s = GraftEngine.localBuilder("4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // every deliberate checkpoint unpin logs "RDD n was locally
    // checkpointed, its lineage has been truncated …" at WARN under the
    // concrete RDD class's logger: deny that one message, keep the rest
    import org.apache.logging.log4j.core.{Filter, LoggerContext}
    val logs = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext]
    logs.getConfiguration.getRootLogger.addFilter(
      org.apache.logging.log4j.core.filter.StringMatchFilter.newBuilder()
        .setMatchString("was locally checkpointed, its lineage has been truncated")
        .setOnMatch(Filter.Result.DENY).setOnMismatch(Filter.Result.NEUTRAL).build())
    logs.updateLoggers()
    // Deep-iteration ALS (reference config: maxIter 40) checkpoints its
    // factor RDDs every 10 iters to truncate lineage — without a
    // checkpoint dir the lineage grows unbounded and task
    // deserialization overflows the stack.
    s.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    s
  }
}
