package graft

/** Single-query timing harness for plan iteration: times the named
  * registered queries (args) with the same noop-forcing protocol as
  * `Bench`, without paying for the other ~110. `build:<name>` args
  * time a Bench build step instead (caches released between runs so
  * run 2+ re-measures real work, not a memo hit). N runs per name via
  * SPARK_GRAFT_RUNS (default 2). Usage:
  * `runMain graft.BenchOne q109_pq_topk [build:containment_screen ...]`.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    val spark = GraftEngine.localBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("id % 7 as k").groupBy("k").count()
      .write.format("noop").mode("overwrite").save()
    args.foreach { name =>
      // (pre, work): pre runs OUTSIDE the timer — for build steps the
      // cache release must not be billed to the build being measured
      // (round-15 advice), it only exists so run 2+ re-measures real
      // work instead of a memo hit
      val (pre, run): (() => Unit, () => Unit) =
        if (name.startsWith("build:")) {
          val step = name.stripPrefix("build:")
          val fn = Bench.buildSteps.toMap.getOrElse(step,
            throw new NoSuchElementException(s"unknown build step: $step"))
          (() => GraftEngine.releaseCaches(), () => fn(spark, sfDir))
        } else {
          val fn = SparkEntry.queries(name)
          // SPARK_GRAFT_RELEASE_QUERIES=1: drop session memos before
          // EVERY run of a query row too — warm-JVM repeats of a
          // memo-backed trainer/walk row (q211, q198, q210) otherwise
          // measure a memo hit from run 2 on, and cold single-JVM
          // samples are steal-noise-dominated on this box
          (if (sys.env.contains("SPARK_GRAFT_RELEASE_QUERIES"))
            (() => GraftEngine.releaseCaches()) else (() => ()),
            () => fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        }
      (1 to runs).foreach { i =>
        pre()
        val t0 = System.nanoTime()
        run()
        println(f"[benchone] $name run$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    GraftEngine.releaseCaches()
    spark.stop()
  }
}
