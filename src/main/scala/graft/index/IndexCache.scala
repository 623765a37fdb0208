package graft.index

import scala.jdk.CollectionConverters._

import graft.functions.VectorFunctions
import graft.state.{Engine, LibrarySnapshot}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Version-keyed serving cache — exploiting the staleness signal the
  * reference maintains but never uses: `library.version` is bumped on
  * every mutation (library_repo.py:74 etc.) yet the index is still
  * rebuilt from scratch on every query (search_service.py:122,125).
  *
  * Two kinds of entry, both keyed on (libraryId, library incarnation,
  * version) — the incarnation nonce keeps a deleted library re-created
  * under its old id from hitting the deleted library's entries:
  *  - a snapshot entry: the library's [[LibrarySnapshot]], whose frame
  *    of embedded chunks is Spark-cached once, so every search at that
  *    version plans over an `InMemoryRelation` instead of re-encoding
  *    the store, and answers the empty/dim probe on the driver. The
  *    snapshot ships its rows to the executors once, as a broadcast, so
  *    a task over the cached frame carries a slice index, not rows;
  *  - a bucketed frame per (numTables, numPlanes, seed): the LSH buckets
  *    derived from that snapshot's frame, Spark-cached, so repeated
  *    probes skip both the hash computation and the source scan.
  * A mutation bumps the version, so stale entries simply stop being hit
  * and are evicted on the next insert. Identical semantics to
  * rebuild-per-query — the key IS the consistency proof. Inputs are
  * reused, never results.
  *
  * Entries are access-ordered; inserts first drop stale versions (and
  * incarnations) of the library being (re)built, then LRU-evict
  * globally until the map is under `maxEntries` — so the cache is
  * bounded even when every hit is a distinct library. All map access is
  * serialized on a plain lock (builds are lazy plan construction and
  * one broadcast of the snapshot's rows, so holding it is cheap).
  * Eviction unpersists a frame but leaves the snapshot's broadcast
  * alone: a request still scanning an evicted frame recomputes it from
  * the broadcast, which Spark's `ContextCleaner` releases once nothing
  * references the frame.
  */
final class IndexCache(maxEntries: Int = 64) {
  import IndexCache.{Entry, Key}

  private[this] val lock = new Object
  private[this] val cache =
    new java.util.LinkedHashMap[Key, Entry](16, 0.75f, /*accessOrder=*/ true)

  /** `libraryId`'s snapshot at its current version: the version, the
    * rows and the probe of one [[graft.state.EngineState]]. */
  def snapshot(engine: Engine, spark: SparkSession, libraryId: String): LibrarySnapshot = {
    val s = engine.state
    val lib = s.library(libraryId)
    entry(Key(lib.id, lib.incarnation, lib.version, None)) {
      val snap = LibrarySnapshot(spark, s, libraryId)
      Entry(snap, snap.frame.cache())
    }.snapshot
  }

  /** The LSH-bucketed frame of `snap`, built from its frame. */
  def bucketed(snap: LibrarySnapshot, lsh: RandomHyperplaneLsh, dim: Int): DataFrame = {
    val lib = snap.library
    entry(Key(lib.id, lib.incarnation, lib.version,
        Some((lsh.numTables, lsh.numPlanes, lsh.seed)))) {
      Entry(snap, lsh.withBuckets(snap.frame,
        VectorFunctions.l2Normalize(col("embedding")), dim).cache())
    }.frame
  }

  def bucketed(engine: Engine, spark: SparkSession,
               libraryId: String, lsh: RandomHyperplaneLsh, dim: Int): DataFrame =
    bucketed(snapshot(engine, spark, libraryId), lsh, dim)

  private def entry(key: Key)(build: => Entry): Entry = lock.synchronized {
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      evictFor(key)
      val built = build
      cache.put(key, built)
      built
    }
  }

  /** Pre-insert eviction (call with `lock` held): drop stale versions
    * and incarnations of this library, then LRU entries globally until
    * an insert fits. */
  private def evictFor(key: Key): Unit = {
    removeWhere(k => k.libraryId == key.libraryId &&
      (k.incarnation != key.incarnation || k.version < key.version))
    while (cache.size() >= maxEntries) {
      val eldest = cache.entrySet().iterator().next() // least-recently-used
      eldest.getValue.frame.unpersist(blocking = false)
      cache.remove(eldest.getKey)
    }
  }

  /** Remove and unpersist the matching entries, bucketed frames before
    * the snapshot frames they were derived from (so Spark has no
    * dependent cache to re-plan). Call with `lock` held. */
  private def removeWhere(p: Key => Boolean): Unit = {
    val it = cache.entrySet().iterator()
    val gone = scala.collection.mutable.ArrayBuffer.empty[(Key, Entry)]
    while (it.hasNext) {
      val e = it.next()
      if (p(e.getKey)) { gone += (e.getKey -> e.getValue); it.remove() }
    }
    gone.sortBy(_._1.lsh.isEmpty).foreach(_._2.frame.unpersist(blocking = false))
  }

  /** Bucketed frames held (snapshot entries are not counted). */
  def size: Int = lock.synchronized(cache.keySet().asScala.count(_.lsh.isDefined))

  /** Every frame the cache holds (test surface). */
  private[graft] def frames: Seq[DataFrame] =
    lock.synchronized(cache.values().asScala.map(_.frame).toSeq)

  def invalidate(libraryId: String): Unit = lock.synchronized {
    removeWhere(_.libraryId == libraryId)
  }

  /** Unpersist every cached frame and drop every entry. */
  def clear(): Unit = lock.synchronized(removeWhere(_ => true))
}

private object IndexCache {
  /** `lsh` is None for a snapshot entry, else the (numTables,
    * numPlanes, seed) of a bucketed frame. */
  final case class Key(libraryId: String, incarnation: String, version: Int,
                       lsh: Option[(Int, Int, Long)])
  /** `frame` is what the entry caches: the snapshot's own frame for a
    * snapshot entry, the bucketed frame otherwise. */
  final case class Entry(snapshot: LibrarySnapshot, frame: DataFrame)
}
