package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-audit main for INTERNAL operator paths (round-17 optimization
  * evidence): registers a QueryExecutionListener and dumps the
  * formatted physical plan of EVERY action executed while (a) one
  * SnapshotLog append commits and (b) one ANN probe-grid calibration
  * sweep runs — so the number of data passes per operation (and the
  * CollectMetrics stat fold riding the write) is checkable as text,
  * not taken from prose. Usage:
  *   runMain graft.PlansInternal <sfDir> <outFile>
  */
object PlansInternal {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "/tmp/plans_internal.txt"
    val spark = GraftEngine.localBuilder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution,
          ns: Long): Unit =
        sink.add(s"-------- action: $fn --------\n" + qe.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      override def onFailure(fn: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    def section(title: String)(body: => Unit): Unit = {
      sink.clear()
      body
      // listener delivery is async; settle before snapshotting
      Thread.sleep(2000)
      sb.append(s"==================== $title ====================\n")
      sink.forEach(p => { sb.append(p).append("\n"); () })
      sb.append("\n")
    }
    spark.listenerManager.register(listener)

    section("SnapshotLog.append (one commit: every executed action)") {
      import graft.ext.SnapshotLog
      val dir = Files.createTempDirectory("graft-plansint").toString
      SnapshotLog.reset(dir, statsCols = Seq("ok" -> "o_orderkey"))
      val o = Tables.load(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      SnapshotLog.append(o, dir, col("o_custkey"))
      ()
    }

    section("ANN probe-grid calibration sweep (every executed action)") {
      import graft.ext.IvfPq
      val emb = Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val index = IvfPq.build(spark, emb, dim = 64, kCells = 8)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      sink.clear() // drop the index-build actions; audit the sweep only
      graft.queries.VectorOps.calibrationSweepForPlanAudit(index, emb, q)
      index.close()
    }

    // == round-18 sections ==

    section("MoR delete + merge commits (every executed action — the " +
      "DV tombstone write and its row count)") {
      import graft.ext.SnapshotLog
      val dir = Files.createTempDirectory("graft-plansmor").toString
      SnapshotLog.reset(dir)
      val o = Tables.load(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      SnapshotLog.append(o, dir, col("o_orderkey"))
      sink.clear() // audit the MoR commits only, not the seed append
      SnapshotLog.deleteMor(spark, dir,
        pmod(col("o_orderkey"), lit(100L)) === 7L)
      SnapshotLog.mergeMorKeys(spark,
        o.filter(pmod(col("o_orderkey"), lit(50L)) === 3L)
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        dir, Seq("o_orderkey"), col("o_orderkey"))
      ()
    }

    section("Keyed CDC apply of one batch (every executed action — " +
      "resolved winners cached, bookmark counts from cache)") {
      import graft.ext.SnapshotLog
      import graft.streaming.SnapshotSource
      val src = Files.createTempDirectory("graft-planscdc-src").toString
      val dst = Files.createTempDirectory("graft-planscdc-dst").toString
      SnapshotLog.reset(src); SnapshotLog.reset(dst)
      val o = Tables.load(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      SnapshotLog.append(o, src, col("o_orderkey"))
      SnapshotLog.append(o, dst, col("o_orderkey"))
      SnapshotLog.deleteMorKeysMulti(spark, src,
        o.filter(pmod(col("o_orderkey"), lit(90L)) === 1L)
          .select("o_orderkey"), Seq("o_orderkey"))
      val batch = SnapshotLog.readCdc(spark, src, 0, 1)
      sink.clear() // audit the apply only
      SnapshotSource.applyCdcBatchKeys(spark, batch, dst,
        Seq("o_orderkey"), col("o_orderkey"))
    }

    section("WordPiece trainer, 2 EM rounds (every executed action — " +
      "best-pair selection riding the rewrite checkpoint)") {
      graft.queries.TextOps.releaseCaches()
      sink.clear()
      graft.queries.TextOps.wordpieceLoop(spark, sfDir, rounds = 2)
      ()
    }

    section("Graph beam walks, both regimes (every executed action — " +
      "per-hop states lazily checkpointed, one action per walk)") {
      graft.queries.VectorOps.releaseCaches()
      sink.clear()
      graft.queries.VectorOps.warmGraphWalks(spark, sfDir)
    }

    // Loop-fused declared queries: the evidence is the ACTION COUNT for
    // one full run of the registered query (trainer loop + serving
    // read), not a single plan's shape — each fused round used to
    // submit its own job(s).
    def querySection(title: String, name: String): Unit =
      section(title) {
        graft.queries.TextOps.releaseCaches()
        sink.clear()
        Registry.byName(name).fn(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }

    querySection("q134_bpe_train, full run (every executed action — " +
      "BPE winner selection riding the rewrite checkpoint, one action " +
      "per merge round)", "q134_bpe_train")
    querySection("q142_pair_pagerank, full run (every executed action " +
      "— fixed-round pagerank fused to one materializing action)",
      "q142_pair_pagerank")
    querySection("q92_dedup_clusters, full run (every executed action " +
      "— label-propagation convergence count observed on the round's " +
      "own pass)", "q92_dedup_clusters")

    spark.listenerManager.unregister(listener)
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
