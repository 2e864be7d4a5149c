package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import scala.jdk.CollectionConverters._

/** Per-key memoization whose locking never serializes UNRELATED builds:
  * the session-scoped caches (VectorOps' served indexes, TextOps'
  * trained-BPE memo) hold multi-second Spark fits, and a single global
  * `synchronized` around `getOrElseUpdate` serialized every build — a
  * concurrent query thread blocked on an UNRELATED index's build.
  *
  * Shape: ConcurrentHashMap installs a cheap lazy holder under its
  * per-bin lock (`computeIfAbsent`'s mapping function only constructs
  * the holder); the build itself runs under the holder's own lazy-val
  * monitor, so two callers of the SAME key still get exactly one build
  * (the second blocks on the holder, as before) while different keys
  * build fully in parallel. A build that THROWS leaves the holder's
  * lazy val uninitialized, so the next caller retries rather than
  * caching the failure.
  *
  * Release safety: `drain()` swaps in a FRESH map (so new `getOrBuild`
  * calls proceed immediately against it — a drain in progress never
  * gates them; the prior read-write-lock design had queued-writer
  * semantics that stalled every NEW build behind all in-flight ones,
  * the round-12 advice finding), then waits on an active-builder
  * counter until every `getOrBuild` that might still be building into
  * the OLD map has exited, and only then returns the old map's built
  * values for the caller to release (unpersist/close). A
  * snapshot-then-clear release (`builtValues` then `clear()`) had a
  * leak window — a build completing between the two calls published a
  * value the snapshot missed and the clear dropped (the round-11
  * finding); the counter wait closes it: by return time every build
  * that targeted the old map is complete and in the drained set.
  *
  * The quiesce wait counts builders PER MAP GENERATION (the counter
  * lives on the map wrapper, not globally): drain only waits for
  * builds that entered the map it detached, so continuous getOrBuild
  * traffic against the fresh map can never starve it — a single global
  * counter never reached zero under sustained traffic and drain
  * blocked indefinitely (the round-13 advice finding; the coarse wait
  * was not merely over-waiting, it was unbounded). Entry is a
  * read-increment-recheck loop: a builder that incremented a
  * generation the drain just detached observes the swap on recheck,
  * backs out its count, and retries against the fresh generation — so
  * every builder drain waits on really did enter the old map.
  *
  * INVARIANT — no drain from inside a build: a `build` body that calls
  * `drain()` (directly or via a releaseCaches chain) deadlocks waiting
  * for its own exit. Builds must not release caches; release is the
  * session lifecycle's job.
  */
final class KeyedMemo[K, V <: AnyRef] {

  private final class Holder(build: () => V) {
    @volatile private[KeyedMemo] var built = false
    lazy val value: V = { val v = build(); built = true; v }
  }

  /** One map generation: the entries plus the count of builders that
    * entered THIS map — so drain waits only on them (see class doc).
    */
  private final class Gen {
    val map = new ConcurrentHashMap[K, Holder]()
    val active = new AtomicInteger(0)
  }

  private val genRef = new AtomicReference(new Gen)
  private val quiesce = new Object

  private def exit(g: Gen): Unit =
    if (g.active.decrementAndGet() == 0)
      quiesce.synchronized { quiesce.notifyAll() }

  /** Pin the CURRENT generation: increment its counter, then recheck
    * the reference — a drain that swapped between the read and the
    * increment is observed here, the count backs out, and the loop
    * retries against the fresh generation. On return the counted
    * generation is the one any subsequent drain will detach and wait
    * on.
    */
  @annotation.tailrec
  private def enter(): Gen = {
    val g = genRef.get()
    g.active.incrementAndGet()
    if (genRef.get() eq g) g
    else { exit(g); enter() }
  }

  def getOrBuild(k: K)(build: => V): V = {
    val g = enter()
    try g.map.computeIfAbsent(k, _ => new Holder(() => build)).value
    finally exit(g)
  }

  /** Values whose build COMPLETED — non-destructive iteration (a
    * holder mid-build publishes `built` before its lazy-val monitor
    * releases, so a racing reader just blocks until the value is
    * ready). For RELEASE paths use `drain()`, which cannot miss a
    * build racing the call.
    */
  def builtValues: Seq[V] =
    genRef.get().map.values.asScala.toSeq.filter(_.built).map(_.value)

  /** Drop every entry WITHOUT returning values — for memos whose
    * values hold no releasable resource (plain DataFrames whose
    * persistence is tracked elsewhere). Entries mid-build complete
    * into the detached map and are simply unreachable afterwards.
    */
  def clear(): Unit = { genRef.set(new Gen); () }

  /** Atomically detach every entry and return the removed values for
    * the caller to release (unpersist/close). New `getOrBuild` calls
    * proceed against the fresh map immediately; this call blocks only
    * until in-flight builds complete, so no build can complete into a
    * dropped holder and leak its resource. See the class scaladoc for
    * the no-drain-from-inside-a-build invariant.
    */
  def drain(): Seq[V] = {
    val old = genRef.getAndSet(new Gen)
    quiesce.synchronized {
      while (old.active.get() != 0) quiesce.wait(50L)
    }
    old.map.values.asScala.toSeq.filter(_.built).map(_.value)
  }
}
