package graft

import org.apache.spark.sql.functions._

/** The library facade exposes the full surface from one handle. */
class GraftEngineSpec extends SparkSpec {

  private lazy val engine = new GraftEngine(spark, sfDir)

  test("the driver smoke contract holds: entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
    // every queries key with an oracle has SQL, and both maps cover
    // the whole Registry — the t1/t2 surface the driver consumes
    assert(SparkEntry.queries.size === Registry.all.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("query-by-name reaches every registered query") {
    assert(engine.query("q01_popular").count() > 0)
    assert(engine.query("q40_dedup_exact").count() === 500)
    intercept[NoSuchElementException] { engine.query("no_such_query") }
  }

  test("releaseCaches frees every module memo, ALS model and incidents included") {
    val model = queries.RecoOps.alsModel(spark, sfDir)
    val incidents = queries.EventOps.incidentIntervals(spark, sfDir)
    assert(queries.RecoOps.alsModel(spark, sfDir) eq model)
    engine.releaseCaches()
    assert(queries.RecoOps.alsModel(spark, sfDir) ne model)
    assert(queries.EventOps.incidentIntervals(spark, sfDir) ne incidents)
    engine.releaseCaches()
  }

  test("native functions are registered through the facade") {
    val r = engine.table("embeddings").limit(5)
      .select(expr("cosine_sim(embedding, embedding)").as("c")).collect()
    assert(r.forall(x => math.abs(x.getDouble(0) - 1.0) < 1e-9))
  }

  test("catalog existence probe and ensure-view registration") {
    assert(!engine.tableExists("nation"))
    // registers when absent, no-op when already present
    assert(engine.ensureView("nation"))
    assert(engine.tableExists("nation"))
    assert(!engine.ensureView("nation"))
    assert(spark.sql("SELECT count(*) AS n FROM nation").head().getLong(0) === 25L)
    spark.catalog.dropTempView("nation")
    assert(!engine.tableExists("nation"))
  }

  test("integrity audit reports clean fixtures") {
    val checks = engine.query("q64_integrity_checks").collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    assert(checks === Map(
      "orphan_orders" -> 0L, "orphan_lineitems" -> 0L,
      "dup_custkeys" -> 0L, "null_acctbal" -> 0L))
  }

  test("annTopK serves caller queries through the shared index") {
    import org.apache.spark.sql.functions.col
    val q = engine.table("embeddings")
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    try {
      // exhaustive configuration must reproduce the exact baseline
      val n = engine.table("embeddings").count().toInt
      val viaEngine = engine.annTopK(q, topK = 5, nProbe = 16, shortlist = n)
        .collect().toSeq
      val exact = engine.query("q50_cosine_topk").collect().toSeq
      assert(viaEngine === exact)
      // the serving configuration returns a full top-5 per query
      val served = engine.annTopK(q).collect()
      assert(served.length === q.count().toInt * 5)
    } finally engine.releaseCaches()
  }

  test("hybridTopK at full probe reproduces registered q156 bit-for-bit") {
    import org.apache.spark.sql.functions.col
    // caller-shaped queries: (q_id, q_text, q_emb) — the same five
    // docs q156 ranks (doc_id = vec_id links the modalities)
    val q = engine.table("documents").filter(col("doc_id") < 5)
      .select(col("doc_id").as("q_id"), col("text").as("q_text"))
      .join(engine.table("embeddings").filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
        Seq("q_id"))
    try {
      // full probe + unbounded shortlist: the dense arm is exact (the
      // q139 losslessness property), so the fused output must equal
      // the registered query's exact-cosine arm bit-for-bit
      val viaEngine = engine.hybridTopK(q, topK = 10, nProbe = 16,
        shortlist = Int.MaxValue).collect().toSeq
      val registered = engine.query("q156_hybrid_rrf").collect().toSeq
      assert(viaEngine === registered)
      // the serving configuration (single-digit probe) still fuses a
      // per-query candidate list with ranks from both arms
      val served = engine.hybridTopK(q).collect()
      assert(served.nonEmpty)
      assert(served.forall(r => r.getAs[Int]("rn") >= 1))
    } finally engine.releaseCaches()
  }

  test("engine construction pins the session timezone to UTC") {
    // the events loader's TimestampNTZ branch casts through the
    // SESSION zone; an externally-built non-UTC session would read
    // TZ-shifted instants vs the DuckDB oracle. The facade is the one
    // entry point whose session the engine doesn't build itself, so
    // construction must repair the zone — and the repair must make
    // the epoch-compared events queries match their UTC values.
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      val utcRows = engine.query("q17_recent_events").collect().toSeq
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val e2 = new GraftEngine(spark, sfDir)
      assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
      assert(e2.query("q17_recent_events").collect().toSeq === utcRows)
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("snapshotDiff facade on q162's construction reproduces the registered diff") {
    import org.apache.spark.sql.functions._
    val docs = engine.table("documents")
    val snapB = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 3)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7L)) === 5,
          concat(col("text"), lit(" edited"))).otherwise(col("text")).as("text"))
      .unionByName(docs.filter(pmod(col("doc_id"), lit(7L)) === 1)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(col("text"), lit(" new")).as("text")))
    val viaEngine = engine.snapshotDiff(docs, snapB)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val registered = engine.query("q162_snapshot_diff")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaEngine === registered)
    // identical snapshots diff to NOTHING — the incremental no-op case
    assert(engine.snapshotDiff(docs, docs).count() === 0)
  }

  test("asofJoin facade reproduces registered q171 through the native exec") {
    val ev = engine.table("events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        unix_timestamp(col("ts")).as("p_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        unix_timestamp(col("ts")).as("c_ts"))
    val viaEngine = engine.asofJoin(purchases, clicks, Seq("user_id"),
        "p_ts", "c_ts", rightTiebreakCols = Seq("click_id"),
        toleranceSec = Some(3600L))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        (col("p_ts") - col("c_ts")).as("gap_s"))
      .collect().map(_.toSeq).toSet
    val registered = engine.query("q171_asof_native")
      .collect().map(_.toSeq).toSet
    assert(viaEngine === registered)
  }

  test("snapshot facade: append, version, and historical reads compose") {
    val dir = java.nio.file.Files.createTempDirectory("facade-snap").toString
    graft.ext.SnapshotLog.reset(dir)
    val o = engine.table("orders")
      .select(col("o_orderkey"), unix_timestamp(col("o_orderdate")).as("t"))
    engine.snapshotAppend(o.filter(col("o_orderkey") % 2 === 0), dir, col("t"))
    engine.snapshotAppend(o.filter(col("o_orderkey") % 2 === 1), dir, col("t"))
    assert(engine.snapshotVersion(dir) === 1)
    assert(engine.snapshotRead(dir, 1).count() === o.count())
    assert(engine.snapshotRead(dir, 0).count() <
      engine.snapshotRead(dir, 1).count())
  }

  test("snapshot lifecycle facade: changes, compact, vacuum compose") {
    val dir = java.nio.file.Files.createTempDirectory("facade-lifec").toString
    graft.ext.SnapshotLog.reset(dir)
    val o = engine.table("orders")
      .select(col("o_orderkey"), unix_timestamp(col("o_orderdate")).as("t"))
    engine.snapshotAppend(o.filter(col("o_orderkey") % 2 === 0), dir, col("t"))
    engine.snapshotAppend(o.filter(col("o_orderkey") % 2 === 1), dir, col("t"))
    val odd = o.filter(col("o_orderkey") % 2 === 1).count()
    assert(engine.snapshotChanges(dir, 0, 1).count() === odd)
    val v = engine.snapshotCompact(dir, col("t"))
    assert(engine.snapshotRead(dir, v).count() === o.count())
    val (segs, mfs) = engine.snapshotVacuum(dir, v)
    assert(segs === 2 && mfs === 2)
    assert(engine.snapshotRead(dir, v).count() === o.count())
  }

  test("unimaxMix facade allocation sums to the requested budget") {
    import spark.implicits._
    val counts = Seq(("a", 100L), ("b", 1000L), ("c", 10000L))
      .toDF("source", "tokens")
    val got = engine.unimaxMix(counts, budget = 2000L, epochCap = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    // a caps at 400; b and c share the remaining 1600 at theta = 800
    assert(got("a") === 400.0)
    assert(got("b") === 800.0)
    assert(got("c") === 800.0)
  }

  test("unimaxMix rejects an over-capacity budget loudly, not emptily") {
    import spark.implicits._
    val counts = Seq(("a", 100L), ("b", 1000L)).toDF("source", "tokens")
    // Σ caps = 4×1100 = 4400; the boundary budget == Σ caps is a valid
    // full allocation (every source at its cap)…
    val full = engine.unimaxMix(counts, budget = 4400L, epochCap = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(full === Map("a" -> 400.0, "b" -> 4000.0))
    // …but one token beyond capacity has no waterfill solution and
    // must fail loudly instead of collapsing to an empty frame
    val e = intercept[Exception] {
      engine.unimaxMix(counts, budget = 4401L, epochCap = 4).collect()
    }
    assert(e.getMessage.contains("budget exceeds total capacity") ||
      Option(e.getCause).exists(_.getMessage.contains("budget exceeds total capacity")))
  }

  test("containmentDedup facade reproduces registered q179 exactly") {
    val viaEngine = engine.containmentDedup(engine.table("documents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
    val registered = engine.query("q179_containment_screened")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
    assert(viaEngine === registered)
    assert(viaEngine.nonEmpty, "fixture must exercise the containment gate")
  }

  test("prunePrototypical facade agrees with q174's rollup") {
    val verdicts = engine.prunePrototypical(engine.table("embeddings"))
    val viaEngine = verdicts.groupBy(col("label"))
      .agg(sum(when(col("pruned"), 1L).otherwise(0L)).as("n_pruned"))
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    val registered = engine.query("q174_difficulty_prune")
      .collect().map(r => r.get(0) -> r.getLong(2)).toMap
    assert(viaEngine === registered)
  }

  test("approxDistinctSession estimates without touching the engine session") {
    val ap = engine.approxDistinctSession()
    val est = Tables.load(ap, sfDir, "lineitem")
      .agg(countDistinct(col("l_partkey")).as("d")).head().getLong(0)
    val exact = engine.table("lineitem")
      .agg(countDistinct(col("l_partkey")).as("d")).head().getLong(0)
    assert(math.abs(est - exact).toDouble / exact <= 0.05)
    assert(spark.conf.getOption(
      graft.plans.ApproxDistinctRewrite.Flag).forall(_ != "true"))
  }

  test("distinctOverlapEstimate tracks exact overlap within sketch error") {
    val li = engine.table("lineitem")
    val part = engine.table("part")
    // contained case: lineitem's partkeys are a subset draw of part's
    val est = engine.distinctOverlapEstimate(li, "l_partkey", part, "p_partkey")
      .head()
    val exactA = li.select(col("l_partkey")).distinct().count()
    val exactOverlap = li.select(col("l_partkey").as("k")).distinct()
      .join(part.select(col("p_partkey").as("k")).distinct(), Seq("k")).count()
    assert(math.abs(est.getAs[Long]("distinct_a") - exactA).toDouble / exactA <= 0.05)
    assert(math.abs(est.getAs[Long]("overlap_est") - exactOverlap).toDouble /
      exactOverlap <= 0.10)
    assert(est.getAs[Double]("containment_a") >= 0.85) // subset-drawn keys
    // disjoint case: shifted keys share nothing; estimate must be
    // near-zero relative to the union cardinality
    val shifted = part.select((col("p_partkey") + 10000000L).as("p_partkey"))
    val dj = engine.distinctOverlapEstimate(li, "l_partkey", shifted, "p_partkey")
      .head()
    assert(dj.getAs[Long]("overlap_est").toDouble <=
      0.05 * dj.getAs[Long]("distinct_union"))
  }

  test("psiDrift facade on the q163 split reproduces the registered PSI") {
    import org.apache.spark.sql.functions._
    val ev = engine.table("events")
      .select(col("event_type"),
        floor(col("ts").cast("double")).cast("long").as("sec"),
        least(floor(col("value") / 50.0), lit(9.0)).as("bkt"))
    val viaEngine = engine.psiDrift(
        ev.filter(col("sec") < 1705363200L),
        ev.filter(col("sec") >= 1705363200L),
        "event_type", col("bkt"))
      .collect()
      .map(r => r.getString(0) -> r.getDouble(r.fieldIndex("psi"))).toMap
    val registered = engine.query("q163_psi_drift")
      .collect()
      .map(r => r.getString(0) -> r.getDouble(r.fieldIndex("psi"))).toMap
    assert(viaEngine === registered)
    // a frame against itself has zero drift in every group
    val self = engine.psiDrift(ev, ev, "event_type", col("bkt")).collect()
    assert(self.forall(_.getDouble(self.head.fieldIndex("psi")) === 0.0))
  }

  test("mutualKnn facade reproduces registered q183 exactly") {
    val viaEngine = engine.mutualKnn(engine.table("embeddings"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    val registered = engine.query("q183_mutual_knn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    assert(viaEngine === registered)
    assert(viaEngine.nonEmpty, "fixture must produce mutual pairs")
  }

  test("knnLabelAudit facade reproduces registered q184 exactly") {
    val viaEngine = engine.knnLabelAudit(engine.table("embeddings"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val registered = engine.query("q184_knn_label_audit")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(viaEngine === registered)
  }

  test("incrementalKnn facade reproduces registered q187 exactly") {
    val cond = conv(substring(md5(col("vec_id").cast("string")), 1, 4),
      16, 10).cast("long") % 10 === 0
    val viaEngine = engine.incrementalKnn(engine.table("embeddings"), cond)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val registered = engine.query("q187_incremental_knn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(viaEngine === registered)
    assert(viaEngine.nonEmpty)
  }

  test("softDedupYield facade reproduces registered q185 exactly") {
    val viaEngine = engine.softDedupYield(engine.table("documents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val registered = engine.query("q185_soft_dedup_yield")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(viaEngine === registered)
    // the policy must bite on the planted-near-dup fixture
    assert(viaEngine.exists(t => t._5 < t._4))
  }
}
