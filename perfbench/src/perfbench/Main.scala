package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Runs one workload for one seed and prints its metrics. Every value
  * comes from `run.py`:
  *
  *   --workload serve-warm|lifecycle-rw  --seed N  --seconds S  --trace 0|1
  *   --work DIR  --metrics a,b,…  --pinned FILE  --trace-out FILE
  *   [--pin-out FILE] [--corrupt] [--plan-only] [--gen-only]
  *
  * The last stdout line is one JSON object with the keys correct,
  * attempted, failed and metrics; the lines before it name every
  * metric with its unit and sample count.
  */
object Main {
  /** The seed whose answers are pinned in pinned_digests.json. */
  val PinnedSeed = 1L

  final case class Args(m: Map[String, String], flags: Set[String]) {
    def apply(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    def has(f: String): Boolean = flags(f)
  }

  def parse(a: Array[String]): Args = {
    val m = mutable.Map.empty[String, String]; val f = mutable.Set.empty[String]
    var i = 0
    val flagNames = Set("--corrupt", "--plan-only", "--gen-only")
    while (i < a.length) {
      if (flagNames(a(i))) { f += a(i).drop(2); i += 1 }
      else { require(i + 1 < a.length, s"missing value for ${a(i)}"); m(a(i).drop(2)) = a(i + 1); i += 2 }
    }
    Args(m.toMap, f.toSet)
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload = a("workload")
    val seed = a("seed").toLong
    require(Workloads.names.contains(workload), s"unknown workload '$workload'")
    val w = Workloads(workload, seed)
    if (a.has("plan-only")) {
      println(s"plan ${w.cycle.mkString(",")}")
      println(s"inputs ${w.inputsDigest}")
      return
    }
    val work = a("work")
    val cores = math.min(w.cores, Runtime.getRuntime.availableProcessors())

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config(graft.Tables.requiredConf._1, graft.Tables.requiredConf._2)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    val sessionStart = secs(t0)
    try run(spark, a, w, workload, seed, work, sessionStart)
    finally spark.stop()
  }

  private def run(spark: SparkSession, a: Args, w: Workload, workload: String,
      seed: Long, work: String, sessionStart: Double): Unit = {
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val dataDir = s"$work/data"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dataDir))
    val tg = System.nanoTime()
    new DataGen(spark, seed).fixtures(dataDir, Workloads.Sf, w.tables)
    val datagen = secs(tg)
    println(f"info datagen_s=$datagen%.3f session_start_s=$sessionStart%.3f sf=${Workloads.Sf}")
    if (a.has("gen-only")) {
      val dig = w.tables.toSeq.sorted.map { t =>
        t + "=" + Check.digest(spark.read.parquet(s"$dataDir/$t.parquet").collect())
      }
      println(s"inputs ${dig.mkString(";")}")
      return
    }

    val engine = new graft.GraftEngine(spark, dataDir)
    val probe = if (traced) Some(new Probe(spark)) else None
    val tr = new Tracer(probe)
    val ctx = new Ctx(spark, engine, dataDir, work, seed, tr)

    // set-up: the workload's rounds, the median reported, in wall time
    // and in CPU time of the whole JVM
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    val setupCpu = mutable.ArrayBuffer.empty[Double]
    val setupSteps = mutable.ArrayBuffer.empty[(String, Double)]
    (1 to w.setupRounds).foreach { _ =>
      val ts = System.nanoTime(); val cs = Cpu.process()
      val steps = w.setupRound(ctx)
      setupSteps ++= steps
      setupTimes += secs(ts)
      setupCpu += (Cpu.process() - cs) / 1e9
      println(f"info setup_round_s=${setupTimes.last}%.3f setup_round_cpu_s=${setupCpu.last}%.3f " +
        steps.map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
    }

    val canary = mutable.ArrayBuffer.empty[Double]
    def canaryOnce(): Unit = {
      val tc = System.nanoTime()
      spark.range(4L << 20).selectExpr("id % 101 as k").groupBy("k")
        .agg(org.apache.spark.sql.functions.sum("k"))
        .write.format("noop").mode("overwrite").save()
      canary += secs(tc)
    }
    canaryOnce()

    // the warm pass of workloads whose set-up rounds leave ops cold
    val ops = w.ops(ctx)
    val tw = System.nanoTime(); val cw = Cpu.process()
    (1 to w.warmCycles).foreach { _ =>
      w.cycle.foreach { n =>
        w.beforeOp(ctx, n)
        require(ops(n).run()(), s"$n failed its check in the warm pass")
      }
    }
    val warmPass = secs(tw); val warmCpu = (Cpu.process() - cw) / 1e9
    if (w.warmCycles > 0) setupSteps += ("warm_pass_s" -> warmPass)

    // the timed loop: whole cycles until the time is up
    val recs = mutable.ArrayBuffer.empty[OpRecord]
    probe.foreach(_.start())
    tr.recording = true
    ctx.corrupt = a.has("corrupt")
    val loop0 = System.nanoTime()
    var seq = 0
    while (recs.isEmpty || secs(loop0) < seconds) {
      w.cycle.foreach { name =>
        w.beforeOp(ctx, name)
        val op = ops(name)
        tr.op = seq
        val ms0 = System.currentTimeMillis(); val ns0 = System.nanoTime()
        val cpu0 = Cpu.process(); val drv0 = Cpu.thread()
        val (check, err) =
          try (tr(s"op:$name")(op.run()), None)
          catch { case e: Throwable => (() => false, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
        val dt = secs(ns0); val ms1 = System.currentTimeMillis()
        val cpu = (Cpu.process() - cpu0) / 1e9; val drv = (Cpu.thread() - drv0) / 1e9
        val ok = err.isEmpty && (try check() catch { case _: Throwable => false })
        recs += OpRecord(seq, name, op.kind, dt, cpu, drv, ok, ms0, ms1)
        System.err.println(f"[perfbench] op $seq $name $dt%.3f s cpu $cpu%.3f s" +
          (if (ok) "" else s" FAILED${err.map(": " + _).getOrElse(" its check")}"))
        seq += 1
      }
    }
    val loopSecs = secs(loop0)
    tr.recording = false
    ctx.corrupt = false
    probe.foreach(_.stop())
    canaryOnce()

    // pinned answers for the pinned seed
    val digests = w.digests
    a.m.get("pin-out").foreach { f =>
      val body = JObject(workload -> JObject(digests.toList.sorted.map { case (k, v) => k -> JString(v) }))
      java.nio.file.Files.write(java.nio.file.Paths.get(f),
        (JsonMethods.pretty(JsonMethods.render(body)) + "\n").getBytes("UTF-8"))
    }
    val pinFailures: Seq[String] =
      if (seed != PinnedSeed) Nil
      else Pinned.read(a("pinned"), workload).toSeq.collect { case (k, v) if !digests.get(k).contains(v) => k }

    val okRecs = recs.filter(_.ok).toSeq
    val extra = w.extraMetrics(ctx, recs.toSeq)
    val layerExtra = if (traced) w.layerMetrics(ctx, recs.toSeq) else Nil
    val cachedMb = {
      val st = spark.sparkContext.getExecutorMemoryStatus.values
      st.map { case (max, free) => max - free }.sum / 1048576.0
    }
    // retained heap: the benchmark's own state dropped first, then the
    // facade's release, then full collections
    w.release()
    engine.releaseCaches()
    val heapMb = Heap.afterFullGc()
    ctx.releaseAll()

    val attempted = recs.size + ctx.setupChecks.size + pinFailures.size
    val failed = recs.count(!_.ok) + ctx.setupChecks.count(!_._2) + pinFailures.size
    ctx.setupChecks.filterNot(_._2).foreach(c => System.err.println(s"[perfbench] set-up check failed: ${c._1}"))
    pinFailures.foreach(k => System.err.println(s"[perfbench] pinned digest mismatch: $k"))

    // ---- end-to-end: every line printed, BENCHMARK.json picks the gated ones
    val summary = mutable.ArrayBuffer.empty[Metric]
    // gated timings are CPU time, which host steal does not inflate;
    // the wall-time figures beside them are printed for reading
    summary += Metric("setup_s", Check.median(setupCpu.toSeq) + warmCpu, "s", setupCpu.size)
    summary += Metric("setup_wall_s", Check.median(setupTimes.toSeq) + warmPass, "s", setupTimes.size)
    summary += Metric("op_cpu_ms", 1e3 * recs.map(_.cpu).sum / math.max(1, recs.size), "ms", recs.size)
    summary += Metric("driver_cpu_ms", 1e3 * recs.map(_.driverCpu).sum / math.max(1, recs.size), "ms", recs.size)
    summary += Metric("ops_per_s", okRecs.size / loopSecs, "1/s", recs.size)
    def latency(prefix: String, xs: Seq[Double]): Unit = if (xs.nonEmpty) {
      summary += Metric(s"${prefix}_p50_s", Check.median(xs), "s", xs.size)
      // the highest percentile with at least ten samples beyond it
      Check.tail(xs).filter(_._1 > 50).foreach { case (pc, v) =>
        summary += Metric(s"${prefix}_p${pc}_s", v, "s", xs.size)
      }
    }
    latency("op", okRecs.map(_.secs))
    Seq("read", "write").foreach { k =>
      val ofKind = okRecs.filter(_.kind == k)
      latency(k, ofKind.map(_.secs))
      if (ofKind.nonEmpty)
        summary += Metric(s"${k}_cpu_ms", 1e3 * ofKind.map(_.cpu).sum / ofKind.size, "ms", ofKind.size)
    }
    summary += Metric("fail_ratio", failed.toDouble / attempted, "1", attempted)
    summary += Metric("retained_heap_mb", heapMb, "MB", 1)
    summary ++= extra
    summary += Metric("session_start_s", sessionStart, "s", 1)
    summary += Metric("host.canary_s", Check.median(canary.toSeq), "s", canary.size)
    summary.foreach(m => println(f"metric ${m.name} ${m.value}%.6f ${m.unit} n=${m.n}"))

    // ---- per layer (traced) -----------------------------------------
    val perLayer = mutable.ArrayBuffer.empty[Metric]
    if (traced) {
      val p = probe.get
      val nOps = math.max(1, recs.size)
      val totals = p.snapshot()
      totals.foreach { case (k, v) =>
        perLayer += Metric(k, v / nOps, Units.of(k), recs.size)
      }
      // wall time inside some job versus outside any job, per op
      val split = recs.map { r =>
        val jobMs = Probe.unionLength(p.jobsWithin(r.startMs, r.endMs))
        (r.name, r.secs, jobMs / 1e3)
      }
      val jobS = split.map(_._3).sum; val wallS = split.map(_._2).sum
      perLayer += Metric("spark.job_s", jobS / nOps, "s", recs.size)
      perLayer += Metric("spark.driver_gap_s", math.max(0.0, wallS - jobS) / nOps, "s", recs.size)
      perLayer += Metric("spark.cached_mb", cachedMb, "MB", 1)
      Seq("queries.define", "queries.plan", "queries.exec").foreach { n =>
        val xs = tr.spans.filter(_.name == n).map(tr.dur)
        perLayer += Metric(s"${n}_s", if (xs.isEmpty) 0.0 else xs.sum / xs.size, "s", xs.size)
      }
      setupSteps.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, xs) =>
        perLayer += Metric(if (k.contains('.')) k else s"setup.$k",
          Check.median(xs.map(_._2).toSeq), "s", xs.size)
      }
      perLayer ++= layerExtra
      perLayer += Metric("trace.ops_per_s", okRecs.size / loopSecs, "1/s", recs.size)
      perLayer += Metric("trace.op_cpu_ms", 1e3 * recs.map(_.cpu).sum / nOps, "ms", recs.size)
      perLayer += Metric("host.canary_s", Check.median(canary.toSeq), "s", canary.size)
      perLayer += Metric("fail_ratio", failed.toDouble / attempted, "1", attempted)
      perLayer.foreach(m => println(f"layer ${m.name} ${m.value}%.6f ${m.unit} n=${m.n}"))
      // per op type: wall, job time (interval union) and driver time outside jobs
      split.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (n, xs) =>
        val wall = xs.map(_._2).sum; val job = xs.map(_._3).sum
        println(f"split $n n=${xs.size} wall_s=$wall%.4f job_s=$job%.4f driver_s=${math.max(0.0, wall - job)}%.4f")
      }
      // self time per layer, from the spans
      tr.spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
        println(f"self $n n=${ss.size} total_s=${ss.map(tr.dur).sum}%.4f self_s=${ss.map(tr.selfTime).sum}%.4f")
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(a("trace-out")), tr.toJson.getBytes("UTF-8"))
    }

    val wanted = a("metrics").split(",").toSeq.filter(_.nonEmpty)
    val pool = (if (traced) perLayer ++ summary else summary).reverse.map(m => m.name -> m).toMap
    val chosen = wanted.map(n => n -> pool.get(n))
    val metricsJson = JObject(chosen.toList.collect { case (n, Some(m)) =>
      n -> JObject("value" -> Json.num(m.value), "unit" -> JString(m.unit))
    })
    chosen.collect { case (n, None) => n }
      .foreach(n => System.err.println(s"[perfbench] metric not measured on $workload: $n"))
    println("PERFBENCH_RESULT " + JsonMethods.compact(JsonMethods.render(JObject(
      "correct" -> JBool(failed == 0),
      "attempted" -> JInt(attempted), "failed" -> JInt(failed),
      "metrics" -> metricsJson))))
  }
}

object Units {
  def of(metric: String): String =
    if (metric.endsWith("_s")) "s" else if (metric.endsWith("_mb")) "MB" else "count"
}

/** CPU time in ns: of the whole JVM (driver, executor tasks, GC, JIT) and
  * of the calling thread. The kernel leaves time stolen by the
  * hypervisor out of both, so they do not grow with host load the way
  * wall time does.
  */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  def process(): Long = os.getProcessCpuTime
  def thread(): Long = threads.getCurrentThreadCpuTime
}

object Heap {
  /** Driver heap in use after full collections, in MB: the lowest of
    * several readings, because Spark's cleaner thread drops some
    * references only after a collection has queued them.
    */
  def afterFullGc(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc(); Thread.sleep(200)
      mx.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }
}

object Json {
  def num(d: Double): JValue = if (d.isNaN || d.isInfinite) JNull else JDouble(d)
}

object Pinned {
  /** op → digest pinned for one workload. */
  def read(f: String, workload: String): Map[String, String] = {
    val p = java.nio.file.Paths.get(f)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")) \ workload match {
      case JObject(kv) => kv.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty
    }
  }
}
