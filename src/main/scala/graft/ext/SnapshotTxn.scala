package graft.ext

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.Base64

/** == Multi-table transaction (round-17 item 5) ==
  *
  * The snapshot log commits ONE table atomically; a replication
  * fan-in (q226's source + replica) or any pipeline writing a fact
  * table beside its audit table needs BOTH-OR-NEITHER across logs.
  * This is the intent-manifest protocol the multi-table transaction
  * designs of the lakehouse formats converge on (Iceberg's
  * catalog-level multi-table commit; see reference behavior note in
  * ARCHITECTURE.md §multi-table):
  *
  *  1. STAGE every participant (`SnapshotLog.stageAppend`): segment
  *     data lands on disk but nothing references it — an abandoned
  *     stage is a vacuum-reclaimable orphan, exactly like a
  *     publish-race loser's segment.
  *  2. Write a POINTER file (`txn-<id>.ptr`) into every
  *     NON-coordinator participant's log dir: coordinator dir + txn
  *     id. Pointers are not commits — a pointer whose intent never
  *     appears is inert garbage (readers ignore it; `reap` collects
  *     it once it is old enough that no writer can still be between
  *     its pointer writes and its intent publish).
  *  3. COMMIT POINT: atomically publish ONE intent file
  *     (`txn-<id>.intent`) in the COORDINATOR's log dir (the
  *     lexicographically-smallest participant — deterministic, so
  *     readers and recovery agree with no coordination service). The
  *     intent embeds every participant's full manifest content
  *     (base64 per table — manifests are metadata-sized). Before this
  *     link lands, no participant's manifest exists: NEITHER. After
  *     it lands, the transaction is durable: BOTH, see below.
  *  4. ROLL FORWARD: publish each staged manifest. A crash anywhere
  *     in this loop is healed by ANY subsequent reader:
  *     `SnapshotLog.version` (every read/write path's visibility
  *     choke point) spots intent/pointer files riding the directory
  *     listing it already pays and publishes whatever the intent
  *     says is missing BEFORE answering — so no reader can observe
  *     table A's post-txn version while table B's read path would
  *     still answer pre-txn. The publish is idempotent: an existing
  *     manifest with the staged content is a completed step; an
  *     existing manifest with DIFFERENT content means a writer
  *     outside the transaction took the reserved version — the
  *     single-writer contract (which this protocol extends to the
  *     participant SET for the txn's duration) was violated, and
  *     healing fails as loudly as the single-table publish race does.
  *  5. CLEAN UP: after every manifest is verified published, delete
  *     the intent, then the pointers. (Intent first: a pointer
  *     without an intent must mean "aborted or fully healed", and
  *     both are safe to ignore.)
  *
  * What this gives: atomic cross-table VISIBILITY (the intent link is
  * the one commit point) and crash-safe roll-forward with no daemon —
  * healing rides the read path, the same trick Delta/Iceberg use for
  * orphaned-commit recovery. What it deliberately does NOT give:
  * cross-table snapshot ISOLATION for readers who capture the two
  * versions at different times (that needs a catalog-level snapshot
  * handle), and protection against a concurrent NON-transactional
  * writer on a participant table mid-txn (single-writer-per-table is
  * the log's documented posture; the violation is detected and loud,
  * never silent).
  *
  * At 100 TB the intent is O(total manifest bytes) = metadata-sized;
  * data files never move or copy — the protocol's cost is three tiny
  * atomic file publishes regardless of table size.
  */
object SnapshotTxn {

  /** txn file name check, applied to a directory listing SnapshotLog
    * already paid for — the no-txn fast path costs one name scan.
    */
  private[ext] def isTxnFile(name: String): Boolean =
    name.startsWith("txn-") &&
      (name.endsWith(".intent") || name.endsWith(".ptr"))

  private def intentPath(coordDir: String, id: String): Path =
    SnapshotLog.logDir(coordDir).resolve(s"txn-$id.intent")

  private def ptrPath(dir: String, id: String): Path =
    SnapshotLog.logDir(dir).resolve(s"txn-$id.ptr")

  private def canon(dir: String): String =
    java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString

  /** The deterministic coordinator: lexicographically-smallest
    * canonical participant dir. Readers and recovery re-derive it
    * from any pointer, no service needed.
    */
  private def coordinatorOf(dirs: Seq[String]): String = dirs.minBy(canon)

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))

  private def unb64(s: String): String =
    new String(Base64.getDecoder.decode(s), StandardCharsets.UTF_8)

  /** Atomic exclusive publish of a small metadata file (the manifest
    * publish's temp+hard-link discipline; see
    * SnapshotLog.publishExclusive for why link, not rename).
    */
  private def atomicPublish(target: Path, content: String): Unit =
    SnapshotLog.publishExclusive(target, content,
      s"transaction file $target already published")

  /** Commit every staged single-table commit atomically: all become
    * visible, or (on a crash before the intent publishes) none ever
    * do. Returns the per-dir committed versions. Participants must be
    * distinct tables — two stages of one log would race each other
    * for the same version.
    */
  def commitTogether(staged: Seq[SnapshotLog.StagedCommit]): Map[String, Int] = {
    require(staged.nonEmpty, "empty transaction")
    require(staged.map(s => canon(s.dir)).distinct.size == staged.size,
      "multi-table transaction participants must be distinct tables")
    val id = newTxnId()
    writePointers(staged, id)
    publishIntent(staged, id) // the commit point
    rollForward(staged, id)
    staged.map(s => s.dir -> s.v).toMap
  }

  /** == Transactional MOVE (round-17 continuation) ==
    * Atomically relocate every `srcDir` row whose key tuple appears in
    * `keys` into `dstDir`: a merge-on-read key-set delete staged on the
    * source (tombstone-sized — discovery prunes segments by key-range
    * sidecar stats, commit cost is matched rows, never table bytes)
    * plus a `stageAppend` of EXACTLY the matched rows (the tombstone
    * read back — the move ships the bytes it deleted, no second table
    * scan) on the destination, committed through the one-intent
    * protocol: no reader can ever observe the rows in both tables or
    * in neither, and a crash between the intent and roll-forward is
    * healed by the next read of either participant. The quarantine /
    * promotion / archive flows of a training-data pipeline (INSERT
    * INTO archive SELECT ... ; DELETE FROM active WHERE ...) get the
    * atomicity SQL engines give that pair inside a transaction.
    * Replaying the same key set is a structural no-op (no matches →
    * nothing staged, versions unchanged), so the op is idempotent
    * under at-least-once orchestration. Change feeds stay
    * replication-consistent: the source's commit rides `#cdcdel`
    * (readCdc emits typed deletes), the destination's is an ordinary
    * insert batch. Returns (srcVersion, dstVersion), each unchanged
    * when no key matched.
    */
  def moveKeys(spark: org.apache.spark.sql.SparkSession, srcDir: String,
      dstDir: String, keys: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String],
      dstStats: org.apache.spark.sql.Column): (Int, Int) =
    SnapshotLog.stageDeleteMorKeysMulti(spark, srcDir, keys, keyCols) match {
      case None =>
        (SnapshotLog.version(srcDir), SnapshotLog.version(dstDir))
      case Some((del, moved)) =>
        val app = SnapshotLog.stageAppend(moved, dstDir, dstStats)
        val vs = commitTogether(Seq(del, app))
        (vs(srcDir), vs(dstDir))
    }

  /** == Cross-table snapshot handle (round-17 continuation) ==
    * `commitTogether` gives atomic cross-table VISIBILITY; what it
    * deliberately does not give is cross-table snapshot ISOLATION for
    * a reader capturing versions at different times (the documented
    * boundary in ARCHITECTURE.md §multi-table). `pinTogether` closes
    * it with an optimistic double scan: read every participant's
    * healed version, read them all again — if ANY moved, retry. A
    * stable double scan IS a consistent cut, because the protocol
    * writes pointers BEFORE the intent and `SnapshotLog.version`
    * heals before answering: suppose a transaction T straddled a
    * stable cut (table B read post-T, table A read pre-T on both
    * scans). B post-T means T's intent had published by B's first
    * read; A's second read happens later, and A's directory already
    * holds either the intent (A coordinates) or T's pointer (written
    * before the intent) — so A's version() healing would publish T's
    * manifest and read post-T, contradicting stability. Readers then
    * time-travel each table at its pinned version (`readAsOf`),
    * immune to every later writer — MVCC across logs with no catalog
    * service, the Iceberg-catalog snapshot-handle shape on a shared
    * filesystem. Retry under a continuous writer storm is the
    * standard optimistic-read trade; `maxAttempts` bounds it loudly
    * rather than spinning forever.
    */
  def pinTogether(dirs: Seq[String],
      maxAttempts: Int = 10): Map[String, Int] = {
    require(dirs.nonEmpty, "empty pin set")
    require(dirs.map(canon).distinct.size == dirs.size,
      "pin set names a table twice")
    var attempt = 0
    while (attempt < maxAttempts) {
      val first = dirs.map(d => d -> SnapshotLog.version(d))
      val second = dirs.map(d => d -> SnapshotLog.version(d))
      if (first == second) return first.toMap
      attempt += 1
    }
    throw new IllegalStateException(
      s"pinTogether observed no stable cut across ${dirs.size} tables " +
        s"in $maxAttempts attempts — writer storm; raise maxAttempts " +
        "or pin during a quieter window")
  }

  private[graft] def newTxnId(): String =
    s"${ProcessHandle.current().pid()}-${java.util.UUID.randomUUID().toString.take(12)}"

  /** Step 2 — pointers into every non-coordinator participant, so a
    * reader of ANY participant can find the intent. Pre-commit: a
    * crash after this publishes nothing, ever.
    */
  private[graft] def writePointers(staged: Seq[SnapshotLog.StagedCommit],
      id: String): Unit = {
    val coord = coordinatorOf(staged.map(_.dir))
    staged.filterNot(s => canon(s.dir) == canon(coord)).foreach { s =>
      atomicPublish(ptrPath(s.dir, id), s"${canon(coord)}\t$id")
    }
  }

  /** Step 3 — the atomic commit point: ONE intent file in the
    * coordinator's log embedding every participant's manifest.
    */
  private[graft] def publishIntent(staged: Seq[SnapshotLog.StagedCommit],
      id: String): Unit = {
    val coord = coordinatorOf(staged.map(_.dir))
    // the `#ts` stamp (SnapshotLog.publish's per-commit wall clock)
    // is fixed HERE, inside the intent, so every healer publishes
    // byte-identical manifests — roll-forward idempotence compares
    // content, and a per-healer timestamp would false-alarm as a
    // foreign writer
    val ts = System.currentTimeMillis()
    val lines = staged.map { s =>
      val stamped =
        if (s.lines.exists(_.startsWith("#ts\t"))) s.lines
        else s.lines :+ s"#ts\t$ts"
      s"table\t${canon(s.dir)}\t${s.v}\t${b64(stamped.mkString("\n"))}"
    }
    atomicPublish(intentPath(coord, id), lines.mkString("\n"))
  }

  /** Step 4+5 — idempotent: publish whatever the intent says is
    * missing, verify, clean up. Safe to run concurrently from any
    * number of healing readers (publishes are exclusive links;
    * losing the link race to another healer then reads back the
    * identical content and proceeds).
    */
  private[graft] def rollForward(staged: Seq[SnapshotLog.StagedCommit],
      id: String): Unit = {
    val coord = coordinatorOf(staged.map(_.dir))
    healIntent(intentPath(coord, id))
  }

  /** Publish one staged manifest idempotently: absent → link it;
    * present with the staged content → a completed step (ours or a
    * concurrent healer's); present with different content → the
    * single-writer contract was violated mid-transaction, fail loud.
    */
  private def healManifest(dir: String, v: Int, content: String): Unit = {
    val target = SnapshotLog.logDir(dir).resolve(s"v$v.manifest")
    def matches(): Boolean =
      new String(Files.readAllBytes(target), StandardCharsets.UTF_8) == content
    if (Files.exists(target)) {
      if (!matches()) throw new IllegalStateException(
        s"transaction roll-forward found a foreign v$v.manifest in $dir — " +
          "a non-transactional writer took a version reserved by a " +
          "committed multi-table transaction (single-writer contract " +
          "violated across the participant set)")
    } else {
      try atomicPublish(target, content)
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (!matches()) throw new IllegalStateException(
            s"transaction roll-forward lost v$v.manifest in $dir to a " +
              "foreign writer (single-writer contract violated)", e)
      }
    }
  }

  /** Heal everything one intent file describes; no-op if the intent
    * vanished (fully healed + cleaned by someone else).
    */
  private def healIntent(intent: Path): Unit = {
    val content =
      try new String(Files.readAllBytes(intent), StandardCharsets.UTF_8)
      catch { case _: java.io.IOException => return } // cleaned up already
    val tables = content.linesIterator.filter(_.startsWith("table\t")).map {
      l =>
        val parts = l.split('\t')
        (parts(1), parts(2).toInt, unb64(parts(3)))
    }.toSeq
    tables.foreach { case (dir, v, manifest) => healManifest(dir, v, manifest) }
    // every manifest verified present: intent first, then pointers
    // (a pointer without an intent reads as aborted-or-done — safe)
    val id = intent.getFileName.toString
      .stripPrefix("txn-").stripSuffix(".intent")
    Files.deleteIfExists(intent)
    tables.foreach { case (dir, _, _) =>
      Files.deleteIfExists(ptrPath(dir, id))
    }
  }

  /** The read-path hook (SnapshotLog.version): `names` is the log
    * listing it already took. Heals every intent found here (this
    * table is a coordinator) and every intent reachable through a
    * pointer (this table is a non-coordinator participant). Pointers
    * whose intent does not exist are IGNORED, not deleted — the
    * writer may be between its pointer writes and its intent publish;
    * deleting would unhook a txn about to commit (stale aborted
    * pointers are reclaimed by `reapAborted`, age-gated).
    */
  private[ext] def heal(dir: String, names: Seq[String]): Unit = {
    val ld = SnapshotLog.logDir(dir)
    names.filter(n => n.startsWith("txn-") && n.endsWith(".intent"))
      .foreach(n => healIntent(ld.resolve(n)))
    names.filter(n => n.startsWith("txn-") && n.endsWith(".ptr"))
      .foreach { n =>
        val p = ld.resolve(n)
        val content =
          try new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
          catch { case _: java.io.IOException => "" } // cleaned up already
        content.split('\t') match {
          case Array(coordDir, id) =>
            val intent = intentPath(coordDir, id)
            if (Files.exists(intent)) healIntent(intent)
          case _ => () // partial/foreign file: ignore
        }
      }
  }

  /** Reap pointer files of transactions that never committed, once
    * they are older than `horizonMs` (the vacuum retention posture:
    * no writer stages a txn for that long, so a pointer that old with
    * no intent is an aborted txn's garbage). The staged segment dirs
    * themselves are already vacuum's ordinary orphan-segment fare.
    */
  def reapAborted(dir: String, horizonMs: Long,
      nowMs: Long = System.currentTimeMillis()): Int = {
    val ld = SnapshotLog.logDir(dir)
    if (!Files.isDirectory(ld)) return 0
    val ptrs = SnapshotLog.listed(ld)(_.filter(p =>
      p.getFileName.toString.startsWith("txn-") &&
        p.getFileName.toString.endsWith(".ptr")).toSeq)
    ptrs.count { p =>
      val old = Files.getLastModifiedTime(p).toMillis < nowMs - horizonMs
      val aborted = old && {
        val content =
          try new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
          catch { case _: java.io.IOException => "" }
        content.split('\t') match {
          case Array(coordDir, id) => !Files.exists(intentPath(coordDir, id))
          case _ => true
        }
      }
      if (aborted) Files.deleteIfExists(p) else false
    }
  }
}
