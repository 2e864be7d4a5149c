package graft

import java.time.Instant
import org.apache.spark.sql.functions._
import graft.ext.SnapshotLog
import graft.queries.Relational

/** ext/SnapshotLog: versioned reads return exactly the committed
  * history, the zone map actually skips segments, and commits never
  * rewrite prior state.
  */
class SnapshotLogSpec extends SparkSpec {

  private def sec(iso: String): Long =
    Instant.parse(iso + "T00:00:00Z").getEpochSecond

  test("each version reads back exactly the rows committed up to it") {
    val dir = Relational.buildOrdersLog(spark, sfDir)
    val o = Tables.load(spark, sfDir, "orders")
    val c1 = lit(Relational.snapCut1).cast("timestamp")
    val keys0 = o.filter(col("o_orderdate") < c1)
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSet
    val got0 = SnapshotLog.readAsOf(spark, dir, 0)
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSet
    assert(got0 === keys0)
    assert(got0.nonEmpty)
    assert(SnapshotLog.readAsOf(spark, dir, 2).count() === o.count())
    assert(SnapshotLog.version(dir) === 2)
  }

  test("zone-map pruning opens only overlapping segments, same answer") {
    val dir = Relational.buildOrdersLog(spark, sfDir)
    val ts = unix_timestamp(col("o_orderdate"))
    val (lo, hi) = (sec("1995-06-01"), sec("1995-12-31"))
    val (pruned, scanned, total) =
      SnapshotLog.readAsOfFiltered(spark, dir, 2, ts, lo, hi)
    assert(total === 3)
    assert(scanned === 1) // the range sits entirely inside segment 0
    val full = SnapshotLog.readAsOf(spark, dir, 2)
      .filter(ts >= lo && ts <= hi)
    assert(pruned.count() === full.count())
    assert(pruned.count() > 0)
    // Disjoint range: nothing scanned, empty-but-well-typed result.
    val (none, s2, _) = SnapshotLog.readAsOfFiltered(spark, dir, 2, ts,
      sec("2050-01-01"), sec("2050-12-31"))
    assert(s2 === 0 && none.count() === 0)
  }

  test("commits are append-only: v0's manifest never changes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snaplog-imm").toString
    SnapshotLog.reset(dir)
    SnapshotLog.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "t"), dir, col("t"))
    val m0 = SnapshotLog.segments(dir, 0)
    SnapshotLog.append(Seq((3L, 30L)).toDF("id", "t"), dir, col("t"))
    assert(SnapshotLog.segments(dir, 0) === m0)
    assert(SnapshotLog.segments(dir, 1).size === 2)
    assert(SnapshotLog.readAsOf(spark, dir, 0).count() === 2)
    assert(SnapshotLog.readAsOf(spark, dir, 1).count() === 3)
    assert(m0.head.min === 10L && m0.head.max === 20L)
  }

  test("readChanges returns exactly the delta segments' rows") {
    val dir = Relational.buildOrdersLog(spark, sfDir)
    val o = Tables.load(spark, sfDir, "orders")
    val c1 = lit(Relational.snapCut1).cast("timestamp")
    val expect = o.filter(col("o_orderdate") >= c1).count()
    assert(SnapshotLog.readChanges(spark, dir, 0, 2).count() === expect)
    // full-history CDC from before the log == the whole table
    assert(SnapshotLog.readChanges(spark, dir, -1, 2).count() === o.count())
    // no-op range → empty, schema intact
    val none = SnapshotLog.readChanges(spark, dir, 2, 2)
    assert(none.count() === 0)
    assert(none.columns.contains("o_orderkey"))
  }

  test("compact preserves every row in one segment; old versions intact") {
    val dir = Relational.buildOrdersLog(spark, sfDir)
    val before = SnapshotLog.readAsOf(spark, dir, 2)
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSet
    val v = SnapshotLog.compact(spark, dir, unix_timestamp(col("o_orderdate")))
    assert(v === 3)
    assert(SnapshotLog.segments(dir, 3).size === 1)
    val after = SnapshotLog.readAsOf(spark, dir, 3)
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSet
    assert(after === before)
    // pre-compaction versions still read their original layout
    assert(SnapshotLog.segments(dir, 2).size === 3)
    assert(SnapshotLog.readAsOf(spark, dir, 0).count() > 0)
  }

  test("vacuum reclaims unreferenced segments and forgets pre-horizon versions") {
    val dir = Relational.buildOrdersLog(spark, sfDir)
    SnapshotLog.compact(spark, dir, unix_timestamp(col("o_orderdate")))
    val total = SnapshotLog.readAsOf(spark, dir, 3).count()
    val (segsGone, mfsGone) = SnapshotLog.vacuum(dir, horizon = 3)
    assert(segsGone === 3) // the three pre-compaction segments
    assert(mfsGone === 3)  // manifests v0..v2
    // the horizon version still reads completely
    assert(SnapshotLog.readAsOf(spark, dir, 3).count() === total)
    // history before the horizon is gone — by design
    intercept[IllegalArgumentException] {
      SnapshotLog.segments(dir, 0)
    }
  }

  test("readers racing a committer only ever see fully-published snapshots") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snaplog-race").toString
    SnapshotLog.reset(dir)
    val commits = 8
    val writer = new Thread(() => {
      (0 until commits).foreach { i =>
        SnapshotLog.append(
          Seq((i.toLong, i.toLong * 10)).toDF("id", "t"), dir, col("t"))
      }
    })
    val anomalies = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (SnapshotLog.version(dir) < commits - 1) {
        val v = SnapshotLog.version(dir)
        if (v >= 0) {
          // atomic rename contract: any visible version parses whole
          // and carries exactly v+1 segments (full-list manifests)
          val segs = try SnapshotLog.segments(dir, v)
          catch { case _: Exception => anomalies.incrementAndGet(); Nil }
          if (segs.size != v + 1) anomalies.incrementAndGet()
        }
      }
    })
    reader.start(); writer.start()
    writer.join(120000); reader.join(120000)
    assert(anomalies.get() === 0)
    assert(SnapshotLog.version(dir) === commits - 1)
    assert(SnapshotLog.readAsOf(spark, dir, commits - 1).count() === commits)
  }

  test("batch ids survive compaction: a replayed micro-batch still skips") {
    import spark.implicits._
    import graft.streaming.StreamOps
    val dir = java.nio.file.Files.createTempDirectory("snaplog-batches").toString
    SnapshotLog.reset(dir)
    StreamOps.snapshotCommitBatch(Seq((1L, 10L)).toDF("id", "t"), dir, "t", 0L)
    StreamOps.snapshotCommitBatch(Seq((2L, 20L)).toDF("id", "t"), dir, "t", 1L)
    SnapshotLog.compact(spark, dir, col("t"))
    // the compacted manifest no longer lists the tagged segments, but
    // the idempotency gate must still know both batches committed
    assert(SnapshotLog.committedBatches(dir) === Set(0L, 1L))
    // checkpoint-recovery replay of batch 1 after the compaction:
    // must be skipped, not appended as duplicate rows
    StreamOps.snapshotCommitBatch(Seq((2L, 20L)).toDF("id", "t"), dir, "t", 1L)
    assert(SnapshotLog.version(dir) === 2)
    assert(SnapshotLog.readAsOf(spark, dir, 2).count() === 2)
    // a genuinely new batch still lands, and its id joins the union
    StreamOps.snapshotCommitBatch(Seq((3L, 30L)).toDF("id", "t"), dir, "t", 2L)
    assert(SnapshotLog.committedBatches(dir) === Set(0L, 1L, 2L))
  }

  test("change feed across a compaction delivers appends, never the rewrite") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snaplog-cdc").toString
    SnapshotLog.reset(dir)
    SnapshotLog.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "t"), dir, col("t"))
    SnapshotLog.append(Seq((3L, 30L)).toDF("id", "t"), dir, col("t"))
    SnapshotLog.compact(spark, dir, col("t")) // v2
    SnapshotLog.append(
      Seq((4L, 40L), (5L, 50L), (6L, 60L)).toDF("id", "t"), dir, col("t"))
    // (0, 3]: the v1 append (folded into the compacted segment but
    // still a real insert) plus the v3 append — never the rewrite
    assert(SnapshotLog.readChanges(spark, dir, 0, 3)
      .select(col("id")).collect().map(_.getLong(0)).toSet ===
      Set(3L, 4L, 5L, 6L))
    // a compaction-only range is an empty delta
    assert(SnapshotLog.readChanges(spark, dir, 1, 2).count() === 0)
    assert(SnapshotLog.readChanges(spark, dir, 2, 3).count() === 3)
    // delta from empty = the snapshot itself
    assert(SnapshotLog.readChanges(spark, dir, -1, 3).count() === 6)
  }

  test("a second writer targeting the same version fails loudly; winner intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snaplog-2w").toString
    SnapshotLog.reset(dir)
    SnapshotLog.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "t"), dir, col("t"))
    // a racing writer that computed the same next version must not
    // clobber the winner's manifest — exclusive link, loud failure
    intercept[java.util.ConcurrentModificationException] {
      SnapshotLog.publish(dir, 0, Seq("seg-bogus\t0\t0"))
    }
    assert(SnapshotLog.segments(dir, 0).head.relPath.startsWith("seg-0-"))
    assert(SnapshotLog.readAsOf(spark, dir, 0).count() === 2)
  }

  test("zone map derives from the written segment, not the input plan") {
    val dir = java.nio.file.Files.createTempDirectory("snaplog-zm").toString
    SnapshotLog.reset(dir)
    // non-deterministic input: re-evaluating it for stats would record
    // a zone map disagreeing with the rows actually written
    val df = spark.range(500)
      .select(col("id"), (rand() * 1000000).cast("long").as("t"))
    SnapshotLog.append(df, dir, col("t"))
    val seg = SnapshotLog.segments(dir, 0).head
    val row = SnapshotLog.readAsOf(spark, dir, 0)
      .agg(min(col("t")), max(col("t"))).head()
    assert(seg.min === row.getLong(0) && seg.max === row.getLong(1))
    // the recorded range must therefore never skip rows it contains
    val (pruned, scanned, _) = SnapshotLog.readAsOfFiltered(
      spark, dir, 0, col("t"), seg.min, seg.max)
    assert(scanned === 1 && pruned.count() === 500)
  }

  test("a racing append cannot clobber the winner's segment DATA") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snaplog-clobber").toString
    SnapshotLog.reset(dir)
    // winner commits v0 with its rows
    SnapshotLog.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "t"), dir, col("t"))
    // loser: computed the same next version, wrote ITS segment files,
    // and only then loses the publish race. Per-writer segment names
    // mean its write landed in its OWN directory — the winner's
    // committed rows must be untouched (the old shared seg-<v> path
    // let the loser silently replace them under the winner's manifest).
    Seq((99L, 999L)).toDF("id", "t").write.mode("overwrite")
      .parquet(s"$dir/seg-0-loser")
    intercept[java.util.ConcurrentModificationException] {
      SnapshotLog.publish(dir, 0, Seq("seg-0-loser\t999\t999"))
    }
    val got = SnapshotLog.readAsOf(spark, dir, 0)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 2L))
    // the loser's orphan directory is unreferenced by any manifest and
    // vacuum reclaims it without touching committed segments
    val (segsDeleted, _) = SnapshotLog.vacuum(dir, 0)
    assert(segsDeleted === 1)
    assert(SnapshotLog.readAsOf(spark, dir, 0).count() === 2)
  }

  test("two concurrent appenders, retry-on-conflict: no row lost, none duplicated") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snaplog-race").toString
    SnapshotLog.reset(dir)
    val perWriter = 6
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val threads = (0 until 2).map { w =>
      new Thread(() => {
        try {
          (0 until perWriter).foreach { i =>
            val rowId = w * 1000L + i
            var attempts = 0
            var done = false
            while (!done) {
              attempts += 1
              assert(attempts <= 50, s"writer $w livelocked on row $rowId")
              try {
                SnapshotLog.append(Seq((rowId, rowId)).toDF("id", "t"),
                  dir, col("t"))
                done = true
              } catch {
                // the loser of a version race retries — the standard
                // optimistic-concurrency loop every log client runs
                case _: java.util.ConcurrentModificationException => ()
              }
            }
          }
        } catch { case t: Throwable => failure.compareAndSet(null, t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (failure.get() != null) throw failure.get()
    // 12 successful appends -> versions 0..11; the final snapshot holds
    // every writer's rows exactly once (a failed attempt must not have
    // half-committed, a winning commit must never be clobbered)
    assert(SnapshotLog.version(dir) === 2 * perWriter - 1)
    val got = SnapshotLog.readAsOf(spark, dir, SnapshotLog.version(dir))
      .select(col("id")).collect().map(_.getLong(0)).toSeq.sorted
    val want = (0 until 2).flatMap(w =>
      (0 until perWriter).map(i => w * 1000L + i)).sorted
    assert(got === want)
  }

  test("fresh log reports version -1") {
    val dir = java.nio.file.Files.createTempDirectory("snaplog-empty").toString
    assert(SnapshotLog.version(dir) === -1)
    SnapshotLog.reset(dir)
    assert(SnapshotLog.version(dir) === -1)
  }

  test("schema evolution: added column null-fills old segments; time travel keeps old shape") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snaplog-evo").toString
    SnapshotLog.reset(dir)
    SnapshotLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "txt"),
      dir, col("id"))
    SnapshotLog.append(Seq((3L, "c", 0.9)).toDF("id", "txt", "score"),
      dir, col("id"))
    // v1 reads the EVOLVED schema: 3 columns, old rows null-filled
    val v1 = SnapshotLog.readAsOf(spark, dir, 1)
    assert(v1.columns.toSeq === Seq("id", "txt", "score"))
    val byId = v1.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(byId === Map(1L -> None, 2L -> None, 3L -> Some(0.9)))
    // time travel to v0 sees the PRE-evolution schema
    assert(SnapshotLog.readAsOf(spark, dir, 0).columns.toSeq === Seq("id", "txt"))
    // the change feed across the column-add surfaces the new shape
    val delta = SnapshotLog.readChanges(spark, dir, 0, 1)
    assert(delta.columns.toSeq === Seq("id", "txt", "score"))
    assert(delta.collect().map(_.getLong(0)).toSeq === Seq(3L))
    // compaction materializes the evolved schema and keeps the nulls
    val cv = SnapshotLog.compact(spark, dir, col("id"))
    val compacted = SnapshotLog.readAsOf(spark, dir, cv)
    assert(compacted.columns.toSeq === Seq("id", "txt", "score"))
    assert(compacted.filter(col("score").isNull).count() === 2)
    // a later append of the NARROW shape is a drop — refused loudly
    intercept[IllegalArgumentException] {
      SnapshotLog.append(Seq((4L, "d")).toDF("id", "txt"), dir, col("id"))
    }
    assert(SnapshotLog.version(dir) === cv, "failed append must not commit")
  }

  test("schema evolution refuses type changes and column drops") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snaplog-evo2").toString
    SnapshotLog.reset(dir)
    SnapshotLog.append(Seq((1L, 10)).toDF("id", "n"), dir, col("id"))
    intercept[IllegalArgumentException] { // n retyped int -> string
      SnapshotLog.append(Seq((2L, "x")).toDF("id", "n"), dir, col("id"))
    }
    intercept[IllegalArgumentException] { // n dropped
      SnapshotLog.append(Seq(Tuple1(2L)).toDF("id"), dir, col("id"))
    }
    // the log is untouched by both refusals
    assert(SnapshotLog.version(dir) === 0)
    assert(SnapshotLog.readAsOf(spark, dir, 0).count() === 1)
  }

  test("reads of a version with deletion vectors are defined without a Spark job") {
    import spark.implicits._
    val rows = (0L until 40L).map(k => (k, k * 10L))
    def table(name: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(name).toString
      SnapshotLog.reset(dir)
      SnapshotLog.append(rows.take(20).toDF("k", "x"), dir, col("k"))
      SnapshotLog.append(rows.drop(20).toDF("k", "x"), dir, col("k"))
      dir
    }
    val pred = pmod(col("k"), lit(3L)) === 0
    val mor = table("snaplog_dv_jobs")
    val v = SnapshotLog.deleteMor(spark, mor, pred)
    assert(SnapshotLog.meta(mor, v).dvs.nonEmpty)
    // the DV-free reference: the same delete, copy-on-write, on a twin
    val cow = table("snaplog_dv_ref")
    val ref = SnapshotLog.delete(spark, cow, pred, col("k"))
    assert(SnapshotLog.meta(cow, ref).dvs.isEmpty)
    val keys = (0L until 40L by 2).toDF("k")
    val (read, readJobs) = jobsOf(SnapshotLog.readAsOf(spark, mor, v))
    val ((byKey, _, _), keyJobs) =
      jobsOf(SnapshotLog.readAsOfKeys(spark, mor, v, Seq("k"), keys))
    assert(readJobs === 0, s"defining readAsOf ran $readJobs Spark jobs")
    assert(keyJobs === 0, s"defining readAsOfKeys ran $keyJobs Spark jobs")
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(sorted(read) === sorted(SnapshotLog.readAsOf(spark, cow, ref)))
    assert(sorted(byKey) ===
      sorted(SnapshotLog.readAsOfKeys(spark, cow, ref, Seq("k"), keys)._1))
    assert(sorted(read) === rows.filterNot(_._1 % 3 == 0))
  }

  test("optimize reads back its staged rewrite without a schema-inference job") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snaplog_opt_jobs").toString
    SnapshotLog.reset(dir)
    val rows = (0L until 64L).map(k => (k, (k * 7L) % 64L))
    SnapshotLog.append(rows.take(32).toDF("k", "x"), dir, col("k"))
    SnapshotLog.append(rows.drop(32).toDF("k", "x"), dir, col("k"))
    val (v, jobs) = jobsOf(
      SnapshotLog.optimize(spark, dir, col("k"), Seq(col("k"), col("x"))))
    // the staged rewrite is read with its known schema from the listed
    // bucket dirs — a schema-less read of the hidden staging dir ran
    // one more (footer-inference) job per optimize
    assert(jobs <= 7, s"optimize ran $jobs Spark jobs")
    assert(SnapshotLog.meta(dir, v).opType === Some("optimize"))
    assert(SnapshotLog.readAsOf(spark, dir, v).as[(Long, Long)].collect()
      .sorted.toSeq === rows)
  }
}
