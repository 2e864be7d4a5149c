package graft

import java.nio.file.{Files, Paths}

/** Plan-audit main: dumps `explain("formatted")` for every registered
  * query so scan pruning (ReadSchema/PushedFilters), join strategies
  * (broadcast vs sort-merge), top-k (TakeOrderedAndProject), and the
  * absence of cartesian products can be reviewed as text.
  *
  * Usage: runMain graft.Plans <sfDir> <outFile>
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "/tmp/plans.txt"
    val spark = GraftEngine.localBuilder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    // Exclude only the ML model-fitting queries (no stable plan to
    // audit) — by exact name, so q62..q69 stay in the dump.
    val skip = Set("q60_synth_ratings", "q61_als_recommend", "q79_ivf_topk",
      "q109_pq_topk")
    Registry.all.filterNot(q => skip.contains(q.name)).foreach { q =>
      sb.append(s"==================== ${q.name} ====================\n")
      try sb.append(q.fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => sb.append(s"EXPLAIN FAILED: ${e.getMessage}") }
      sb.append("\n\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
