package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Diagnostic main for optimization work: run named registered queries
  * (or `build:<step>`s) once or more under a job listener and print,
  * per run, every Spark job's wall-clock plus the un-jobbed driver gap
  * — the number that tells a lifecycle query apart from a scan-bound
  * one (many tiny jobs + big gaps = per-job/driver overhead dominates;
  * one fat job = the plan itself is the cost). Measurement-only: no
  * registered query changes shape here.
  *
  * Usage: runMain graft.JobProfile q223_snapshot_update [q221_...]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    val spark = GraftEngine.localBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("id % 7 as k").groupBy("k").count()
      .write.format("noop").mode("overwrite").save()

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Int, Long, Long, String)]())
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(js.jobId, (js.time, desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(je.jobId)).foreach { case (t0, desc) =>
          done.add((je.jobId, t0, je.time, desc))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    args.foreach { name =>
      val (pre, run): (() => Unit, () => Unit) =
        if (name.startsWith("build:")) {
          val step = name.stripPrefix("build:")
          val fn = Bench.buildSteps.toMap.getOrElse(step,
            throw new NoSuchElementException(s"unknown build step: $step"))
          // SPARK_GRAFT_NORELEASE=1 keeps shared memos across build
          // steps — measures a step's IN-SWEEP marginal cost (the
          // Bench accounting) instead of its full dependency chain
          (if (sys.env.contains("SPARK_GRAFT_NORELEASE")) (() => ())
           else (() => GraftEngine.releaseCaches()),
            () => fn(spark, sfDir))
        } else {
          val fn = SparkEntry.queries(name)
          // SPARK_GRAFT_RELEASE_QUERIES=1: release memos before every
          // run so warm repeats of a memo-backed trainer/walk row
          // (q211, q198, q210) profile real work instead of a memo hit
          (if (sys.env.contains("SPARK_GRAFT_RELEASE_QUERIES"))
            (() => GraftEngine.releaseCaches()) else (() => ()),
            () => fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        }
      (1 to runs).foreach { i =>
        pre()
        done.clear()
        val t0 = System.nanoTime()
        run()
        val wallSec = (System.nanoTime() - t0) / 1e9
        // snapshot under the list's own lock (listener may still append)
        Thread.sleep(200)
        val snap = done.synchronized {
          scala.jdk.CollectionConverters.ListHasAsScala(done).asScala.toVector
        }
        val jobSec = snap.map { case (_, s, e, _) => (e - s) / 1e3 }.sum
        println(f"[jobprofile] $name run$i wall=$wallSec%.2f s " +
          f"jobs=${snap.size} jobSec=$jobSec%.2f gapSec=${wallSec - jobSec}%.2f")
        if (i == runs) {
          val byStart = snap.sortBy(_._2)
          byStart.zipWithIndex.foreach { case ((id, s, e, desc), ix) =>
            val gap =
              if (ix == 0) 0.0
              else (s - byStart(ix - 1)._3) / 1e3 // idle since prev job end
            println(f"[jobprofile]   job$id%4d ${(e - s) / 1e3}%7.3f s " +
              f"gapBefore=$gap%7.3f s  $desc")
          }
        }
      }
    }
    GraftEngine.releaseCaches()
    spark.stop()
  }
}
