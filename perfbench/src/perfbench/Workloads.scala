package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftEngine

/** What every workload sees: the session, the facade over the generated
  * fixtures, a scratch dir, the seed and the tracer.
  */
final class Ctx(val spark: SparkSession, val engine: GraftEngine,
    val dataDir: String, val work: String, val seed: Long, val tr: Tracer) {
  val gen = new DataGen(spark, seed)

  /** Set for the timed loop of a `--corrupt` run: served answers lose a
    * row, so their checks must fail.
    */
  var corrupt = false

  /** Checks made during set-up, outside any timed op: (name, passed).
    * They count as attempted ops, and a failed one as a failed op.
    */
  val setupChecks = mutable.ArrayBuffer.empty[(String, Boolean)]

  /** Every module memo, not only the two `GraftEngine.releaseCaches`
    * frees.
    */
  def releaseAll(): Unit = {
    graft.queries.TextOps.releaseCaches()
    graft.queries.VectorOps.releaseCaches()
    graft.queries.EventOps.releaseCaches()
    graft.queries.RecoOps.releaseCaches()
  }

  /** A lazy frame split three ways: the call returning it, planning, and
    * the collect that serves its rows.
    */
  def serve(define: => DataFrame): Array[Row] = {
    val df = tr("queries.define")(define)
    tr("queries.plan")(df.queryExecution.executedPlan)
    val rows = tr("queries.exec")(df.collect())
    // a corrupted run drops one row from every answer it serves
    if (corrupt && rows.nonEmpty) rows.dropRight(1) else rows
  }

  def collectVectors(df: DataFrame, idCol: String): Array[(Long, Array[Float])] =
    df.select(col(idCol), col("embedding")).collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray))

  def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}

/** One operation of a workload cycle. `run` is timed; the check it
  * returns runs after the timer stops and says whether the output was
  * right.
  */
final case class Op(name: String, kind: String, run: () => (() => Boolean))

/** A line of the summary: a metric, its unit and its sample count. */
final case class Metric(name: String, value: Double, unit: String, n: Int)

trait Workload {
  def name: String
  /** The fixture tables the workload's ops read. */
  def tables: Set[String]
  /** The seeded op names of one cycle, in order. */
  def cycle: Seq[String]
  /** Seeded driver-side inputs, rendered for the determinism test. */
  def inputsDigest: String
  /** One set-up round; returns named step timings (seconds). */
  def setupRound(ctx: Ctx): Seq[(String, Double)]
  def ops(ctx: Ctx): Map[String, Op]
  /** Spark cores (local[N]), at most the machine's. */
  def cores: Int = 4
  /** How many times set-up runs; setup_s is the median round. */
  def setupRounds: Int
  /** Cycles run once after the set-up rounds, untimed but counted in
    * setup_s, so the timed cycle is not the first of each op.
    */
  def warmCycles: Int = 0
  def beforeOp(ctx: Ctx, op: String): Unit = ()
  /** Answer digests that can be pinned across processes. */
  def digests: Map[String, String] = Map.empty
  /** Workload-specific end-to-end lines and per-layer lines. */
  def extraMetrics(ctx: Ctx, recs: Seq[OpRecord]): Seq[Metric] = Nil
  def layerMetrics(ctx: Ctx, recs: Seq[OpRecord]): Seq[Metric] = Nil
  /** Drops the benchmark's own driver-side state, so the retained heap
    * measured after it is the engine's.
    */
  def release(): Unit = ()
}

/** One timed op: wall seconds, CPU seconds of the whole JVM and of the
  * client thread, and whether its check passed.
  */
final case class OpRecord(seq: Int, name: String, kind: String, secs: Double,
    cpu: Double, driverCpu: Double, ok: Boolean, startMs: Long, endMs: Long)

object Workloads {
  /** Input scale: lineitem has 6M × Sf rows. */
  val Sf = 0.01

  def apply(name: String, seed: Long): Workload = name match {
    case "serve-warm" => new ServeWarm(seed)
    case "lifecycle-rw" => new LifecycleRw(seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
  val names: Seq[String] = Seq("serve-warm", "lifecycle-rw")

  /** Seeded order of a multiset of op names. */
  def shuffled(seed: Long, salt: Int, weighted: Seq[(String, Int)]): Seq[String] =
    new scala.util.Random(seed * 1000003L + salt)
      .shuffle(weighted.flatMap { case (n, w) => Seq.fill(w)(n) })

  /** Mean duration of the spans with this name, as a per-layer metric. */
  def meanMetric(ctx: Ctx, span: String, metric: String): Seq[Metric] = {
    val xs = ctx.tr.spans.filter(_.name == span).map(ctx.tr.dur).toSeq
    if (xs.isEmpty) Nil else Seq(Metric(metric, xs.sum / xs.size, "s", xs.size))
  }
}

/** The app's read path on warm state: registered read queries and
  * memo-served ML reads, every memo built in set-up. Set-up also times
  * the retrain path's builds once each, cold: the ALS model, the ANN
  * index, containment dedup and the unigram tokenizer trainer.
  */
final class ServeWarm(seed: Long) extends Workload {
  val name = "serve-warm"
  val tables: Set[String] = Set("region", "nation", "customer", "orders",
    "lineitem", "events", "documents", "embeddings")
  val registered: Seq[String] = Seq("q01_popular", "q10_join_agg",
    "q19_window_topk", "q25_star_join", "q26_rollup", "q29_lag_lead",
    "q33_sessionize", "q35_sliding_window", "q37_event_funnel",
    "q61_als_recommend")
  /** one round of cold memo builds is most of a run's time budget */
  val setupRounds = 1
  val Queries = 8
  val TopK = 5
  val QueryIdBase = 1000000000L
  /** Session memos built by name. The served ANN index is built by the
    * facade's first `annTopK`, timed as its own set-up step.
    */
  val buildSteps: Seq[String] = Seq("als_model", "lex_stats")

  val cycle: Seq[String] = Workloads.shuffled(seed, 1,
    (registered :+ "ann_topk" :+ "hybrid_topk").map(_ -> 1))

  def inputsDigest: String = cycle.mkString(",")

  private val refs = new References
  private var exact: Map[Long, Set[Long]] = Map.empty
  private var queries: DataFrame = _
  val recalls = mutable.ArrayBuffer.empty[Double]

  /** Seeded query vectors in their own id space, each with a query text
    * of three vocabulary words for the hybrid serve.
    */
  private def queryFrame(ctx: Ctx): DataFrame = {
    val v = ctx.gen.vectors(Queries, "q0", QueryIdBase)
    val words = array(ctx.gen.vocab.map(lit): _*)
    v.select(col("id").as("q_id"), col("embedding").as("q_emb"),
      concat_ws(" ", transform(sequence(lit(0), lit(2)), i =>
        element_at(words, (ctx.gen.pick("qt", col("id") * 7 + i,
          ctx.gen.vocab.size.toLong) + 1).cast("int")))).as("q_text"))
  }

  private var buildTotal = 0.0

  private def timed(name: String)(body: => Unit): (String, Double) = {
    val t0 = System.nanoTime()
    body
    name -> (System.nanoTime() - t0) / 1e9
  }

  def setupRound(ctx: Ctx): Seq[(String, Double)] = {
    ctx.releaseAll()
    val steps = graft.Bench.buildSteps.toMap
    val built = buildSteps.map(s => timed(s"build.${s}_s")(steps(s)(ctx.spark, ctx.dataDir)))
    if (queries == null) {
      // the queries and their exact answers are inputs, not engine work
      val q = queryFrame(ctx)
      queries = ctx.spark.createDataFrame(java.util.Arrays.asList(q.collect(): _*), q.schema)
      val corpus = ctx.collectVectors(
        ctx.spark.read.parquet(s"${ctx.dataDir}/embeddings.parquet"), "vec_id")
      exact = Check.exactTopK(corpus,
        ctx.collectVectors(queries.withColumnRenamed("q_emb", "embedding"), "q_id"), TopK)
    }
    val o = ops(ctx)
    val index = timed("vector.index_build_s")(
      ctx.setupChecks += "vector.index_build" -> o("ann_topk").run()())
    // the retrain path's other builds, each once from released memos
    val docs = ctx.spark.read.parquet(s"${ctx.dataDir}/documents.parquet").select("doc_id", "text")
    val dedup = timed("text.dedup_s") {
      val rows = ctx.engine.containmentDedup(docs).collect()
      // every near-duplicate DataGen injected must be found, as (contained, container)
      val found = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      val n = DataGen.rows(DataGen.DocsBase, Workloads.Sf)
      val injected = (0L until n by DataGen.DupEvery.toLong).map(d => (d, d + n))
      ctx.setupChecks += "text.dedup" -> (injected.forall(found.contains) && refs.check("text.dedup", rows))
    }
    val trainer = timed("text.trainer_s") {
      val rows = ctx.engine.trainUnigramTokenizer(rounds = 3).collect()
      ctx.setupChecks += "text.trainer" -> refs.check("text.trainer", rows)
    }
    // warm pass: every distinct op once, its answer kept as the reference
    val warm = timed("setup.warm_pass_s") {
      cycle.distinct.sorted.foreach { n =>
        require(o(n).run()(), s"$n failed its check in set-up")
      }
    }
    recalls.clear()
    val builds = built :+ index :+ dedup :+ trainer
    buildTotal = builds.map(_._2).sum
    builds :+ warm
  }

  /** Answers pinned across processes: the registered reads and the two
    * set-up builds whose answers are exact. The hybrid answers rest on a
    * float index build and are checked only for staying the same within
    * a run.
    */
  override def digests: Map[String, String] = refs.digests.filter { case (k, _) => k != "hybrid_topk" }

  /** recall@k of the served batch against its exact cosine top-k. */
  private def annCheck(rows: Array[Row]): () => Boolean = () => {
    val served = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSeq }
    val r = Check.recall(served, exact)
    recalls += r
    r >= 0.5
  }

  def ops(ctx: Ctx): Map[String, Op] = {
    val reg = registered.map { q =>
      q -> Op(q, "read", () => {
        val rows = ctx.serve(graft.SparkEntry.queries(q)(ctx.spark, ctx.dataDir))
        () => refs.check(q, rows)
      })
    }
    val ml = Seq(
      "ann_topk" -> Op("ann_topk", "read", () => {
        val rows = ctx.tr("vector.ann_serve")(ctx.serve(
          ctx.engine.annTopK(queries, topK = TopK, excludeSelf = false)
            .select("q_id", "vec_id")))
        annCheck(rows)
      }),
      "hybrid_topk" -> Op("hybrid_topk", "read", () => {
        val rows = ctx.tr("text.hybrid_serve")(ctx.serve(
          ctx.engine.hybridTopK(queries, topK = 10)))
        () => refs.check("hybrid_topk", rows)
      }))
    (reg ++ ml).toMap
  }

  override def extraMetrics(ctx: Ctx, recs: Seq[OpRecord]): Seq[Metric] =
    Metric("build_s", buildTotal, "s", 1) +:
      (if (recalls.isEmpty) Nil
      else Seq(Metric("ann_recall", recalls.sum / recalls.size, "1", recalls.size)))

  override def layerMetrics(ctx: Ctx, recs: Seq[OpRecord]): Seq[Metric] =
    Workloads.meanMetric(ctx, "vector.ann_serve", "vector.ann_serve_s") ++
      Workloads.meanMetric(ctx, "text.hybrid_serve", "text.hybrid_serve_s") ++
      Workloads.meanMetric(ctx, "op:q61_als_recommend", "reco.recommend_s")

  override def release(): Unit = {
    queries = null
    exact = Map.empty
    recalls.clear()
  }
}
