package graft

import graft.index.IndexGenerations
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The generation catalog's reader-drain retirement protocol (r15
  * verdict, Next #2): a reader holding the old generation completes
  * after retire is requested, the directory is gone after release, a
  * retire against a live registration refuses, and a premature manual
  * delete still fails the reader loudly (the hazard the catalog
  * narrows but — for readers that never lease — cannot remove).
  */
class IndexGenerationsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def stage(tag: String): String = {
    val path = s"target/spec-index/gen-$tag"
    TestSpark.rmTree(new java.io.File(path))
    (0L until 100L).map(i => (i, Seq.fill(4)(i.toFloat)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(path)
    path
  }

  test("reader holding the old generation completes; deletion defers to release") {
    IndexGenerations.clear()
    val path = stage("drain")
    var insideCount = -1L
    IndexGenerations.lease(path) {
      val df = spark.read.parquet(path)
      assert(df.count() == 100)
      // retire requested MID-READ: refused-now, deferred to release
      assert(!IndexGenerations.retire(path), "retire must defer under a live lease")
      assert(new java.io.File(path).exists(), "deferred retire must not delete yet")
      // the leased reader keeps working after the retire request
      insideCount = df.where(col("vec_id") < 10).count()
    }
    assert(insideCount == 10)
    // last release performed the deferred deletion
    assert(!new java.io.File(path).exists(), "release must perform the deferred delete")
    assert(IndexGenerations.isRetired(path))
  }

  test("retire with no live leases deletes immediately; idempotent after") {
    IndexGenerations.clear()
    val path = stage("now")
    assert(IndexGenerations.retire(path), "no leases -> delete now")
    assert(!new java.io.File(path).exists())
    assert(!IndexGenerations.retire(path), "second retire is a no-op")
  }

  test("retire refuses while the path is registered for serving") {
    IndexGenerations.clear()
    graft.plans.LshProbeRewrite.clear()
    val path = stage("registered")
    graft.plans.LshProbeRewrite.register(
      path, graft.index.RandomHyperplaneLsh(4, 8, 1L), 4)
    try {
      val e = intercept[IllegalArgumentException](IndexGenerations.retire(path))
      assert(e.getMessage.contains("registered"))
      assert(new java.io.File(path).exists(), "refused retire must not delete")
      // the swap order: unregister first, then retire succeeds
      graft.plans.LshProbeRewrite.unregister(path)
      assert(IndexGenerations.retire(path))
      assert(!new java.io.File(path).exists())
    } finally graft.plans.LshProbeRewrite.clear()
  }

  test("a retired generation refuses new leases loudly") {
    IndexGenerations.clear()
    val path = stage("refuse")
    assert(IndexGenerations.retire(path))
    val e = intercept[IllegalArgumentException](
      IndexGenerations.lease(path)(fail("lease body must not run")))
    assert(e.getMessage.contains("retired"))
    // and retire-PENDING also refuses new leases (no new readers may
    // extend a drain indefinitely)
    val p2 = stage("refuse2")
    IndexGenerations.lease(p2) {
      assert(!IndexGenerations.retire(p2))
      intercept[IllegalArgumentException](
        IndexGenerations.lease(p2)(fail("lease body must not run")))
    }
    assert(!new java.io.File(p2).exists())
  }

  test("a premature MANUAL delete still fails the leased reader loudly") {
    IndexGenerations.clear()
    val path = stage("manual")
    IndexGenerations.lease(path) {
      val df = spark.read.parquet(path)
      assert(df.count() == 100) // FileIndex now holds the listing
      TestSpark.rmTree(new java.io.File(path)) // the blind delete the catalog exists to prevent
      val e = intercept[Throwable](df.count())
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(t =>
        t.isInstanceOf[java.io.FileNotFoundException] ||
          Option(t.getMessage).exists(_.contains("does not exist"))),
        s"expected a loud missing-file failure, got: $e")
    }
  }

  test("lease count bookkeeping survives nesting and failure") {
    IndexGenerations.clear()
    val path = stage("nest")
    IndexGenerations.lease(path) {
      IndexGenerations.lease(path) {
        assert(IndexGenerations.liveLeases(path) == 2)
      }
      assert(IndexGenerations.liveLeases(path) == 1)
    }
    assert(IndexGenerations.liveLeases(path) == 0)
    intercept[RuntimeException](
      IndexGenerations.lease(path)(sys.error("reader died")))
    // a dying reader releases its lease — the drain cannot wedge
    assert(IndexGenerations.liveLeases(path) == 0)
    assert(IndexGenerations.retire(path))
  }

  test("a deferred retire persists its intent; sweep finishes it in a fresh JVM") {
    IndexGenerations.clear()
    val path = stage("persist")
    val marker = new java.io.File(path, "_retire_pending")
    // defer a retire under a live lease, then simulate a crash BEFORE
    // the release (clear() = the fresh JVM's empty in-memory state)
    val t = new Thread(() => IndexGenerations.lease(path) { Thread.sleep(1500) })
    t.start()
    Thread.sleep(300) // let the lease land
    assert(!IndexGenerations.retire(path)) // deferred
    assert(marker.exists(), "deferred retire left no on-disk record")
    t.join() // normal path: last release deletes dir + marker together
    assert(!new java.io.File(path).exists())

    // crash path: marker on disk, empty registry — a fresh JVM
    val crashed = stage("crashed")
    assert(new java.io.File(crashed, "_retire_pending").createNewFile())
    IndexGenerations.clear()
    // a reader in the fresh JVM refuses the doomed generation
    val e = intercept[IllegalArgumentException](
      IndexGenerations.lease(crashed)(42))
    assert(e.getMessage.contains("retired"))
    // a marker-carrying sibling that is REGISTERED is skipped, not deleted
    val live = stage("live")
    assert(new java.io.File(live, "_retire_pending").createNewFile())
    graft.plans.LshProbeRewrite.register(live,
      graft.index.RandomHyperplaneLsh(2, 4, 1L), 4)
    try {
      val (deleted, skipped) = IndexGenerations.sweep("target/spec-index")
      assert(deleted.exists(_.endsWith("gen-crashed")), s"deleted=$deleted")
      assert(!new java.io.File(crashed).exists())
      assert(skipped.exists(_.endsWith("gen-live")) && new java.io.File(live).exists(),
        s"skipped=$skipped")
    } finally graft.plans.LshProbeRewrite.unregister(live)
  }

  test("a fresh FOREIGN serving manifest defers retire and sweep; stale is overridden") {
    // r17 (r16 verdict #5): the lease refcount is per-JVM; a second
    // SESSION serving the same layout from another JVM is invisible to
    // it. Its `_serving` heartbeat is not: retire defers on a fresh
    // foreign manifest exactly like a local lease, and a STALE one (a
    // crashed holder) is overridden so an abandoned manifest cannot
    // leak the directory forever. A real second SparkSession's UUID
    // stands in for the foreign JVM's session — distinct identity,
    // zero local leases, exactly the cross-JVM observable.
    IndexGenerations.clear()
    val path = stage("manifest")
    val sessionB = spark.newSession()
    val holderB = org.apache.spark.sql.graft.SqlShims.sessionUUID(sessionB)
    IndexGenerations.heartbeat(path, holderB)
    assert(!IndexGenerations.retire(path),
      "retire must defer while a foreign session's manifest is fresh")
    assert(new java.io.File(path).exists(), "directory deleted under a foreign reader")
    assert(new java.io.File(path, "_retire_pending").exists(),
      "deferred retire must persist its intent")
    // sweep skips it for the same reason
    val (_, skipped) = IndexGenerations.sweep("target/spec-index")
    assert(skipped.exists(_.endsWith("gen-manifest")) &&
      new java.io.File(path).exists(), s"skipped=$skipped")
    // the foreign session releases (its last lease would remove the
    // manifest) — sweep now finishes the retirement
    IndexGenerations.releaseManifest(path, holderB)
    val (deleted2, _) = IndexGenerations.sweep("target/spec-index")
    assert(deleted2.exists(_.endsWith("gen-manifest")) &&
      !new java.io.File(path).exists(), s"deleted=$deleted2")

    // stale override: a crashed holder's heartbeat ages out
    val path2 = stage("manifest-stale")
    IndexGenerations.heartbeat(path2, "crashed-session")
    val old = IndexGenerations.manifestStaleAfterMs
    IndexGenerations.manifestStaleAfterMs = 50L
    try {
      Thread.sleep(120)
      assert(IndexGenerations.retire(path2),
        "a stale foreign manifest must not block the retire")
      assert(!new java.io.File(path2).exists())
    } finally IndexGenerations.manifestStaleAfterMs = old
  }

  test("lease under a named holder writes and clears its serving manifest") {
    IndexGenerations.clear()
    val path = stage("holder")
    val manifest = new java.io.File(new java.io.File(path, "_serving"), "holder-a")
    IndexGenerations.lease(path, "holder-a") {
      assert(manifest.exists(), "lease must heartbeat its holder manifest")
      // nested lease of the same holder keeps one manifest
      IndexGenerations.lease(path, "holder-a")(42)
      assert(manifest.exists(), "inner release must not clear while outer holds")
    }
    assert(!manifest.exists(), "last release must clear the holder manifest")
  }

  test("concurrent leases of one holder always see the holder's manifest") {
    // a release of the holder's last lease must not delete the heartbeat
    // a concurrent lease of the same holder has just written: the count
    // change and the manifest write/removal share one critical section
    IndexGenerations.clear()
    val path = stage("holder-race")
    val manifest = new java.io.File(new java.io.File(path, "_serving"), "holder-r")
    val missing = new java.util.concurrent.atomic.AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until 4).map { _ =>
      val t = new Thread(() => {
        start.await()
        (0 until 2000).foreach { _ =>
          IndexGenerations.lease(path, "holder-r") {
            if (!manifest.exists()) missing.incrementAndGet(): Unit
          }
        }
      })
      t.start()
      t
    }
    start.countDown()
    threads.foreach(_.join())
    assert(missing.get == 0, s"${missing.get} of 8000 leases ran without their manifest")
    assert(IndexGenerations.liveLeases(path) == 0)
    assert(!manifest.exists(), "last release must clear the holder manifest")
  }

  test("bridge construction sweeps a crashed predecessor's marked generations") {
    // r17 (r16 verdict #6): the sweep existed but no production path
    // called it — a crashed JVM's marked directories persisted until a
    // hand-run sweep. AtRestIndexBridge now sweeps its per-library
    // generation parents at construction.
    IndexGenerations.clear()
    val root = "target/spec-index/bridge-sweep"
    TestSpark.rmTree(new java.io.File(root))
    val gen = new java.io.File(s"$root/lib1/v1")
    java.nio.file.Files.createDirectories(gen.toPath)
    java.nio.file.Files.write(new java.io.File(gen, "part-0").toPath, Array[Byte](1))
    assert(new java.io.File(gen, "_retire_pending").createNewFile())
    IndexGenerations.clear() // the fresh JVM's empty in-memory state
    new graft.search.AtRestIndexBridge(root): Unit
    assert(!gen.exists(),
      "bridge construction must finish the interrupted retirement")
    assert(new java.io.File(s"$root/lib1").exists(),
      "only the marked generation dies, not the library parent")
  }
}
