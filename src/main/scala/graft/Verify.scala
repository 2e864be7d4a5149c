package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryName ...] — the optional tail restricts
    // the dump to named queries (local iteration; the driver passes 2)
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftEngine.localBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // a misspelled tail name would otherwise dump nothing and exit 0
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown Verify queries: ${unknown.mkString(",")}")
    // Failures must be driver-visible: stderr is not kept, and a query
    // that dumps nothing is otherwise indistinguishable from one that
    // was never registered. Collect name→message and write it as a
    // sibling artifact the driver can fold into CORRECTNESS_r*.json.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        // a partial parquet dir from the failed write (or a stale one
        // from a prior Verify into the same outDir) must not survive:
        // the checker would compare it as if it were current output
        val dir = Paths.get(s"$outDir/$name")
        if (Files.exists(dir))
          Files.walk(dir).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(p => Files.deleteIfExists(p))
      }
    }
    GraftEngine.releaseCaches()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Exported-state oracles (q199/q143) read ANOTHER query's dumped
    // parquet back in DuckDB — the registered SQL carries the
    // __OUTDIR__ placeholder and the concrete absolute dump dir is
    // only known here. Absolute (not relative) so the driver's DuckDB
    // process resolves it regardless of its working directory.
    val absOut = new java.io.File(outDir).getAbsolutePath
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__OUTDIR__", absOut))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failures.json"), failJson)
    spark.stop()
  }
}
