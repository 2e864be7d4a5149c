package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The write path with reads beside it, on a fresh snapshot-log table:
  * a keyed frame appended in batches, then a fixed protocol of commits
  * (append, MoR merge, MoR delete, copy-on-write update, compact,
  * vacuum) with reads between them. A driver-side model of every batch
  * gives the expected live row count and value sum of each version and
  * the expected change rows of each commit.
  */
final class LifecycleRw(seed: Long) extends Workload {
  val name = "lifecycle-rw"
  val tables: Set[String] = Set.empty
  val nRows: Long = math.max(6000L, DataGen.rows(6e6, Workloads.Sf))
  val Batches = 3
  val delta: Int = math.max(100, (nRows / 100).toInt)
  val RowBytes = 40L // k, v, g as longs plus a 16-char pad

  /** One cycle: the commit protocol in a fixed order, with reads after
    * the commits. The seed picks the keys, residues and values, not the
    * order, so every seed reads the same kinds of state at the same
    * points. Most reads see the merged, tombstoned state; three see the
    * freshly compacted one.
    */
  val cycle: Seq[String] = Seq(
    "append", "cdc",
    "merge_mor", "read_latest", "read_keys",
    "delete_mor", "read_latest", "time_travel",
    "update", "read_latest", "tail_batch", "cdc",
    "compact", "read_keys",
    "vacuum", "read_latest")
  val writes: Set[String] = Set("append", "merge_mor", "delete_mor", "update", "compact", "vacuum")

  /** the write path is driver-bound: two partitions per job */
  override def cores: Int = 2

  override def warmCycles: Int = 1
  val setupRounds = 3

  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("v", LongType), StructField("g", LongType),
    StructField("pad", StringType)))

  def v0(k: Long): Long = java.lang.Math.floorMod(k * 2654435761L + seed * 97L, 1000L)

  // ---- the model -------------------------------------------------------
  private val live = mutable.LongMap.empty[Long]
  private val everKeys = mutable.ArrayBuffer.empty[Long]
  private val deletedKeys = mutable.ArrayBuffer.empty[Long]
  private var nextKey = 0L
  /** (count, sum) of every committed version. */
  private val history = mutable.HashMap.empty[Int, (Long, Long)]
  /** expected change rows per version, by change type */
  private val changes = mutable.HashMap.empty[Int, Map[String, Long]]
  private var version = -1
  private var cycleStart = 0
  private var lastTail = -1
  private var rng = new scala.util.Random(seed)
  var userBytes = 0L
  var bytesWritten = 0L
  val scanRatios = mutable.ArrayBuffer.empty[Double]

  def inputsDigest: String = {
    val r = new scala.util.Random(seed)
    cycle.mkString(",") + ";" + Seq.fill(8)(r.nextInt(101)).mkString(",") +
      s";rows=$nRows;delta=$delta"
  }

  private def state: (Long, Long) = (live.size.toLong, live.valuesIterator.sum)

  private def commit(v: Int, ch: Map[String, Long]): Unit = {
    require(v == version + 1, s"expected version ${version + 1}, got $v")
    version = v
    history(v) = state
    changes(v) = ch
  }

  private def dir(ctx: Ctx) = s"${ctx.work}/lifecycle/log"
  private def ckDir(ctx: Ctx) = s"${ctx.work}/lifecycle/ck"

  private def rangeFrame(ctx: Ctx, from: Long, until: Long): DataFrame =
    ctx.spark.range(from, until).select(col("id").as("k"),
      pmod(col("id") * 2654435761L + lit(seed * 97L), lit(1000L)).as("v"),
      pmod(col("id"), lit(97L)).as("g"),
      lpad(hex(xxhash64(col("id"))), 16, "0").as("pad"))

  private def localFrame(ctx: Ctx, rows: Seq[(Long, Long)]): DataFrame =
    ctx.spark.createDataFrame(java.util.Arrays.asList(rows.map { case (k, v) =>
      Row(k, v, java.lang.Math.floorMod(k, 97L),
        f"${k * 0x9E3779B97F4A7C15L}%016x")
    }: _*), schema)

  private def deleteTree(p: String): Unit = {
    val root = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }
  }

  private def files(ctx: Ctx): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir(ctx))
    val s = java.nio.file.Files.walk(root)
    try {
      val b = Map.newBuilder[String, Long]
      s.filter(java.nio.file.Files.isRegularFile(_)).forEach(f =>
        b += f.toString -> java.nio.file.Files.size(f))
      b.result()
    } finally s.close()
  }

  def setupRound(ctx: Ctx): Seq[(String, Double)] = {
    deleteTree(s"${ctx.work}/lifecycle")
    live.clear(); everKeys.clear(); deletedKeys.clear(); history.clear(); changes.clear()
    version = -1; nextKey = 0L; lastTail = -1; userBytes = 0L; bytesWritten = 0L
    rng = new scala.util.Random(seed)
    val per = nRows / Batches
    val appends = (0 until Batches).map { b =>
      val (lo, hi) = (b * per, (b + 1) * per)
      val t0 = System.nanoTime()
      val v = ctx.engine.snapshotAppend(rangeFrame(ctx, lo, hi), dir(ctx), col("k"))
      val t = (System.nanoTime() - t0) / 1e9
      (lo until hi).foreach { k => live(k) = v0(k); everKeys += k }
      nextKey = hi
      commit(v, Map("insert" -> (hi - lo)))
      t
    }
    // the stream starts from the loaded table
    ctx.engine.tailSnapshot(dir(ctx), ckDir(ctx), maxBatches = 1)((df, _) => df.count())
    lastTail = version
    cycleStart = version
    Seq("setup.append_s" -> appends.sum / appends.size)
  }

  private def sampleLive(n: Int): Seq[Long] = {
    val out = mutable.LinkedHashSet.empty[Long]
    var tries = 0
    while (out.size < n && tries < n * 50) {
      val k = everKeys(rng.nextInt(everKeys.size))
      if (live.contains(k)) out += k
      tries += 1
    }
    out.toSeq
  }

  private def checkCountSum(rows: Array[Row], expect: (Long, Long)): Boolean =
    rows.length == 1 && rows(0).getLong(0) == expect._1 &&
      (if (rows(0).isNullAt(1)) 0L else rows(0).getLong(1)) == expect._2

  private def countSum(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"), sum(col("v")).as("s"))

  private def expectedChanges(from: Int, to: Int): Map[String, Long] =
    (from + 1 to to).flatMap(v => changes.getOrElse(v, Map.empty).toSeq)
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sum }.filter(_._2 > 0)

  private def changeCheck(rows: Array[Row], expect: Map[String, Long]): Boolean =
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap == expect

  /** Log files before the current write op, listed outside its timer. */
  private var filesBefore: Map[String, Long] = Map.empty

  override def beforeOp(ctx: Ctx, op: String): Unit = {
    if (op == "append") cycleStart = version
    if (writes.contains(op)) filesBefore = files(ctx)
  }

  private def countWritten(ctx: Ctx): Unit =
    bytesWritten += files(ctx).iterator
      .filter { case (f, sz) => !filesBefore.get(f).contains(sz) }.map(_._2).sum

  /** Runs a commit under its span. The returned check, run after the
    * timer, applies the op to the model, records the expected state of
    * the new version and counts the bytes the commit wrote.
    */
  private def write(ctx: Ctx, name: String)(commitBody: => Int)(
      model: () => Map[String, Long])(user: => Long): () => Boolean = {
    val v = ctx.tr(s"snapshot.$name")(commitBody)
    () => {
      val expectVersion = version + 1
      commit(v, model())
      userBytes += user * RowBytes
      countWritten(ctx)
      v == expectVersion
    }
  }

  private def matching(mod: Long, r: Long): Seq[Long] =
    live.keysIterator.filter(k => java.lang.Math.floorMod(k, mod) == r).toSeq

  def ops(ctx: Ctx): Map[String, Op] = Map(
    "append" -> Op("append", "write", () => {
      val (lo, hi) = (nextKey, nextKey + delta)
      nextKey = hi
      write(ctx, "append")(ctx.engine.snapshotAppend(rangeFrame(ctx, lo, hi), dir(ctx), col("k"))) { () =>
        (lo until hi).foreach { k => live(k) = v0(k); everKeys += k }
        Map("insert" -> (hi - lo))
      }(hi - lo)
    }),
    "merge_mor" -> Op("merge_mor", "write", () => {
      val old = sampleLive(delta / 2)
      val fresh = (nextKey until nextKey + (delta - old.size)).toSeq
      nextKey += fresh.size
      val src = (old ++ fresh).map(k => (k, rng.nextInt(1000).toLong))
      write(ctx, "merge_mor")(ctx.engine.snapshotMergeMor(localFrame(ctx, src), dir(ctx), "k", col("k"))) { () =>
        src.foreach { case (k, v) => live(k) = v }
        everKeys ++= fresh
        Map("delete" -> old.size.toLong, "insert" -> src.size.toLong)
      }(src.size.toLong)
    }),
    "delete_mor" -> Op("delete_mor", "write", () => {
      val r = rng.nextInt(101).toLong
      write(ctx, "delete_mor")(ctx.engine.snapshotDeleteMor(dir(ctx), pmod(col("k"), lit(101L)) === r)) { () =>
        val gone = matching(101L, r)
        gone.foreach { k => live.remove(k); deletedKeys += k }
        Map("delete" -> gone.size.toLong)
      }(0L)
    }),
    "update" -> Op("update", "write", () => {
      val r = rng.nextInt(103).toLong
      var n = 0L
      write(ctx, "update")(ctx.engine.snapshotUpdate(dir(ctx), pmod(col("k"), lit(103L)) === r,
        Seq("v" -> (col("v") + 7)), col("k"))) { () =>
        val hit = matching(103L, r)
        hit.foreach(k => live(k) = live(k) + 7)
        n = hit.size.toLong
        Map("update_preimage" -> n, "update_postimage" -> n)
      }(n)
    }),
    "compact" -> Op("compact", "write", () =>
      write(ctx, "compact")(ctx.engine.snapshotCompact(dir(ctx), col("k")))(() => Map.empty)(0L)),
    "vacuum" -> Op("vacuum", "write", () => {
      // keep every version a later read of this cycle or the stream needs
      val horizon = math.min(cycleStart, lastTail)
      ctx.tr("snapshot.vacuum")(ctx.engine.snapshotVacuum(dir(ctx), horizon))
      () => { countWritten(ctx); ctx.engine.snapshotVersion(dir(ctx)) == version }
    }),
    "read_latest" -> Op("read_latest", "read", () => {
      val expect = history(version)
      val rows = ctx.tr("snapshot.read")(ctx.serve(countSum(ctx.engine.snapshotRead(dir(ctx), version))))
      () => checkCountSum(rows, expect)
    }),
    "time_travel" -> Op("time_travel", "read", () => {
      val expect = history(cycleStart)
      val rows = ctx.tr("snapshot.read")(ctx.serve(countSum(ctx.engine.snapshotRead(dir(ctx), cycleStart))))
      () => checkCountSum(rows, expect)
    }),
    "read_keys" -> Op("read_keys", "read", () => {
      val liveKeys = sampleLive(12)
      val dead = Seq.fill(math.min(4, deletedKeys.size))(deletedKeys(rng.nextInt(deletedKeys.size)))
      val absent = Seq.tabulate(4)(i => nextKey + 1000 + i)
      val keys = (liveKeys ++ dead ++ absent).distinct
      val expect = (keys.count(live.contains).toLong, keys.flatMap(live.get).sum)
      val keyFrame = localFrame(ctx, keys.map(k => (k, 0L))).select("k")
      val rows = ctx.tr("snapshot.read_keys") {
        var ratio = 0.0
        val r = ctx.serve {
          val (df, scanned, total) = ctx.engine.snapshotReadKeys(dir(ctx), version, Seq("k"), keyFrame)
          ratio = if (total == 0) 0.0 else scanned.toDouble / total
          countSum(df)
        }
        scanRatios += ratio
        r
      }
      () => checkCountSum(rows, expect)
    }),
    "cdc" -> Op("cdc", "read", () => {
      val expect = expectedChanges(cycleStart, version)
      val rows = ctx.tr("snapshot.cdc")(ctx.serve(
        ctx.engine.snapshotCdc(dir(ctx), cycleStart, version)
          .groupBy(col("_change_type")).agg(count(lit(1)).as("n"))))
      () => changeCheck(rows, expect)
    }),
    "tail_batch" -> Op("tail_batch", "read", () => {
      val expect = expectedChanges(lastTail, version)
      var got = Array.empty[Row]
      ctx.tr("stream.tail_batch")(ctx.engine.tailSnapshot(dir(ctx), ckDir(ctx), maxBatches = 1) { (df, _) =>
        got = df.groupBy(col("_change_type")).agg(count(lit(1)).as("n")).collect()
      })
      if (ctx.corrupt && got.nonEmpty) got = got.dropRight(1)
      lastTail = version
      () => changeCheck(got, expect)
    }))

  override def extraMetrics(ctx: Ctx, recs: Seq[OpRecord]): Seq[Metric] = {
    val copy = s"${ctx.work}/lifecycle/compact_copy"
    ctx.engine.snapshotRead(dir(ctx), version).write.mode("overwrite").parquet(copy)
    val copyBytes = ctx.dirBytes(copy)
    Seq(Metric("write_amp", bytesWritten.toDouble / math.max(1L, userBytes), "1",
        recs.count(_.kind == "write")),
      Metric("space_amp", ctx.dirBytes(dir(ctx)).toDouble / math.max(1L, copyBytes), "1", 1))
  }

  override def release(): Unit = {
    live.clear(); everKeys.clear(); deletedKeys.clear(); history.clear(); changes.clear()
    scanRatios.clear()
  }

  override def layerMetrics(ctx: Ctx, recs: Seq[OpRecord]): Seq[Metric] = {
    val commitSpans = ctx.tr.spans.filter(s => s.name.startsWith("snapshot.") &&
      recs.exists(r => r.seq == s.op && r.kind == "write"))
    val jobs = commitSpans.map(s => s.after("spark.jobs") - s.before("spark.jobs"))
    val health = ctx.engine.snapshotSegmentHealth(dir(ctx), version)
    Seq("append", "merge_mor", "delete_mor", "update", "compact", "vacuum", "read",
      "read_keys", "cdc").flatMap(n => Workloads.meanMetric(ctx, s"snapshot.$n", s"snapshot.${n}_s")) ++
      Workloads.meanMetric(ctx, "stream.tail_batch", "stream.tail_batch_s") ++
      (if (jobs.isEmpty) Nil else Seq(Metric("snapshot.jobs_per_commit", jobs.sum / jobs.size, "count", jobs.size))) ++
      (if (scanRatios.isEmpty) Nil else Seq(Metric("snapshot.keys_scan_ratio",
        scanRatios.sum / scanRatios.size, "1", scanRatios.size))) ++
      Seq(Metric("snapshot.bytes_written_mb", bytesWritten / 1048576.0, "MB", 1),
        Metric("snapshot.live_segments", health.size.toDouble, "count", 1),
        Metric("snapshot.tombstone_rows", health.map(_.dvRows).sum.toDouble, "count", 1))
  }
}
