package graft

import graft.index.IndexCache
import graft.search.SearchService
import graft.state._
import org.scalatest.funsuite.AnyFunSuite

/** Spill mode (r11 verdict stretch item #7): loading PAST maxChunks
  * archives overflow segments to parquet instead of throwing
  * EngineCapacityError, the full store stays searchable through
  * chunksDF / SearchService, cascade deletes hide archived rows, and
  * the archived tier's immutability contract is a typed error.
  */
class EngineSpillSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def freshSpill(tag: String): (Engine, java.io.File) = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_spill_$tag").toFile
    TestSpark.rmTree(dir) // engine creates it on first segment write
    var t = 0L
    val clock = () => { t += 1; java.time.Instant.ofEpochSecond(t) }
    (new Engine(clock = clock, maxChunks = 10,
      spill = Some(EngineSpill(spark, dir.getAbsolutePath))), dir)
  }

  /** one-hot embedding: chunk i's nearest neighbor is query one-hot(i) */
  private def oneHot(i: Int, dim: Int = 32): Array[Float] =
    Array.tabulate(dim)(j => if (j == i % dim) 1.0f else 0.0f)

  test("loading past maxChunks spills instead of erroring; chunksDF serves all rows") {
    val (e, dir) = freshSpill("load")
    try {
      val lib = e.createLibrary("L")
      val doc = e.addDocument(lib.id, "D")
      // 25 chunks through a maxChunks=10 engine: 2 spill events
      val ids = (0 until 25).map { i =>
        e.addChunk(lib.id, doc.id, s"text $i", Some(oneHot(i)), id = Some(f"c$i%02d")).id
      }
      assert(ids.size == 25)
      assert(e.state.chunks.size <= 10, "resident segment must stay under the bound")
      val served = e.chunksDF(spark).select("id").collect().map(_.getString(0)).sorted
      assert(served.toSeq == ids.sorted.toSeq)
      // listChunks returns archived ++ resident, oldest first
      assert(e.listChunks(lib.id, doc.id).map(_.id) == ids.toVector)
    } finally TestSpark.rmTree(dir)
  }

  test("a new Engine over a previously-used spill dir spills without colliding") {
    // r13 ADVICE: segSeq restarted at 0 per instance, so engine #2's
    // first spill hit errorifexists against engine #1's seg-000000
    val (e1, dir) = freshSpill("reuse")
    try {
      val lib1 = e1.createLibrary("L1")
      val d1 = e1.addDocument(lib1.id, "D1")
      (0 until 25).foreach(i =>
        e1.addChunk(lib1.id, d1.id, s"one $i", Some(oneHot(i)), id = Some(f"a$i%02d")))
      assert(Option(dir.listFiles()).get.count(_.getName.startsWith("seg-")) >= 2)
      // engine #2 points at the SAME dir (e.g. a restart with a stale
      // scratch path): its spills must mint fresh segment names
      var t = 100L
      val clock = () => { t += 1; java.time.Instant.ofEpochSecond(t) }
      val e2 = new Engine(clock = clock, maxChunks = 10,
        spill = Some(EngineSpill(spark, dir.getAbsolutePath)))
      val lib2 = e2.createLibrary("L2")
      val d2 = e2.addDocument(lib2.id, "D2")
      (0 until 25).foreach(i =>
        e2.addChunk(lib2.id, d2.id, s"two $i", Some(oneHot(i)), id = Some(f"b$i%02d")))
      // e2 serves exactly ITS rows: the orphaned engine-#1 segments are
      // neither overwritten nor adopted
      val served = e2.chunksDF(spark).select("id").collect().map(_.getString(0)).sorted
      assert(served.toSeq == (0 until 25).map(i => f"b$i%02d").sorted)
    } finally TestSpark.rmTree(dir)
  }

  test("search is correct across the archived/resident boundary") {
    val (e, dir) = freshSpill("search")
    try {
      val lib = e.createLibrary("L")
      val doc = e.addDocument(lib.id, "D")
      (0 until 25).foreach { i =>
        e.addChunk(lib.id, doc.id, s"text $i", Some(oneHot(i)), id = Some(f"c$i%02d"))
      }
      // chunk 3 is archived (first spill segment), chunk 24 is resident;
      // without and with an IndexCache (whose snapshot spans both tiers)
      for (svc <- Seq(new SearchService(spark, e),
                      new SearchService(spark, e, indexCache = Some(new IndexCache())));
           i <- Seq(3, 24)) {
        val hits = svc.search(lib.id, queryEmbedding = Some(oneHot(i)), k = 1).hits
        assert(hits.head.chunk_id == f"c$i%02d", s"query $i got ${hits.head}")
      }
    } finally TestSpark.rmTree(dir)
  }

  test("cascade delete hides archived rows without a parquet rewrite") {
    val (e, dir) = freshSpill("cascade")
    try {
      val lib = e.createLibrary("L")
      val d1 = e.addDocument(lib.id, "D1")
      val d2 = e.addDocument(lib.id, "D2")
      (0 until 12).foreach(i => e.addChunk(lib.id, d1.id, s"a $i", Some(oneHot(i))))
      (0 until 12).foreach(i => e.addChunk(lib.id, d2.id, s"b $i", Some(oneHot(i))))
      assert(e.chunksDF(spark).count() == 24)
      e.deleteDocument(lib.id, d1.id)
      val left = e.chunksDF(spark)
      assert(left.count() == 12)
      assert(left.select("document_id").distinct().collect()
        .map(_.getString(0)).toSeq == Seq(d2.id))
    } finally TestSpark.rmTree(dir)
  }

  test("archived chunks are immutable: typed error, resident stays mutable, absent is NotFound") {
    val (e, dir) = freshSpill("immutable")
    try {
      val lib = e.createLibrary("L")
      val doc = e.addDocument(lib.id, "D")
      (0 until 15).foreach { i =>
        e.addChunk(lib.id, doc.id, s"text $i", Some(oneHot(i)), id = Some(f"c$i%02d"))
      }
      // c00 was spilled at chunk 10; c14 is resident
      val eUpd = intercept[BadRequestError](
        e.updateChunk(lib.id, doc.id, "c00", text = Some("new")))
      assert(eUpd.getMessage.contains("spilled tier"))
      val eDel = intercept[BadRequestError](e.deleteChunk(lib.id, doc.id, "c00"))
      assert(eDel.getMessage.contains("spilled tier"))
      assert(e.updateChunk(lib.id, doc.id, "c14",
        text = Some("updated")).text == "updated")
      assert(intercept[NotFoundError](
        e.updateChunk(lib.id, doc.id, "nope", text = Some("x"))).getMessage.contains("nope"))
      assert(!e.deleteChunk(lib.id, doc.id, "nope")) // absent delete stays false
    } finally TestSpark.rmTree(dir)
  }

  test("re-creating a document under the same id does NOT resurrect archived chunks") {
    // r12 review catch: liveness keyed on (library_id, document_id)
    // alone matched a NEW incarnation of a deleted document; the key now
    // includes the document's incarnation nonce (opaque, minted per
    // create — not created_at, which a frozen clock can collide)
    val (e, dir) = freshSpill("resurrect")
    try {
      val lib = e.createLibrary("L")
      e.addDocument(lib.id, "old D", id = Some("doc1"))
      (0 until 12).foreach(i =>
        e.addChunk(lib.id, "doc1", s"old $i", Some(oneHot(i)), id = Some(f"old$i%02d")))
      e.deleteDocument(lib.id, "doc1")
      assert(e.chunksDF(spark).count() == 0)
      // same client-supplied id, fresh incarnation
      e.addDocument(lib.id, "new D", id = Some("doc1"))
      e.addChunk(lib.id, "doc1", "fresh", Some(oneHot(0)), id = Some("fresh0"))
      val served = e.chunksDF(spark).select("id").collect().map(_.getString(0)).toSeq
      assert(served == Seq("fresh0"), s"old incarnation leaked back: $served")
      assert(e.listChunks(lib.id, "doc1").map(_.id) == Vector("fresh0"))
    } finally TestSpark.rmTree(dir)
  }

  test("a spilled chunk of a DELETED document reads as absent, not archived") {
    // r12 review catch: deleteChunk probed the spill bytes without
    // checking the parent document still lives, telling the caller to
    // delete a document they had already deleted
    val (e, dir) = freshSpill("retired")
    try {
      val lib = e.createLibrary("L")
      e.addDocument(lib.id, "D", id = Some("doc1"))
      (0 until 12).foreach(i =>
        e.addChunk(lib.id, "doc1", s"t $i", Some(oneHot(i)), id = Some(f"c$i%02d")))
      e.deleteDocument(lib.id, "doc1")
      // retired chunk: plain false (bytes still in the spill dir)
      assert(!e.deleteChunk(lib.id, "doc1", "c00"))
      // update path 404s on the missing document, as without spill
      intercept[NotFoundError](e.updateChunk(lib.id, "doc1", "c00", text = Some("x")))
    } finally TestSpark.rmTree(dir)
  }

  test("compactSpill reclaims retired bytes; serving and immutability unchanged") {
    val (e, dir) = freshSpill("compact")
    try {
      val lib = e.createLibrary("L")
      e.addDocument(lib.id, "D1", id = Some("d1"))
      e.addDocument(lib.id, "D2", id = Some("d2"))
      (0 until 12).foreach(i =>
        e.addChunk(lib.id, "d1", s"a $i", Some(oneHot(i)), id = Some(f"a$i%02d")))
      (0 until 12).foreach(i =>
        e.addChunk(lib.id, "d2", s"b $i", Some(oneHot(i)), id = Some(f"b$i%02d")))
      e.deleteDocument(lib.id, "d1") // retires d1's archived rows (dead bytes)
      val Some((before, after)) = e.compactSpill()
      assert(before > after, s"nothing reclaimed: $before -> $after")
      // on-disk rows are now exactly d2's archived ones (segments are
      // subdirectories of the spill root, hence the recursive lookup)
      assert(spark.read.option("recursiveFileLookup", "true")
        .parquet(dir.getAbsolutePath)
        .select("document_id").distinct().collect().map(_.getString(0)).toSeq == Seq("d2"))
      // serving identical to pre-compaction
      assert(e.chunksDF(spark).count() == 12)
      assert(e.listChunks(lib.id, "d2").map(_.id) == (0 until 12).map(i => f"b$i%02d").toVector)
      // archived rows keep their immutability contract post-compaction
      val err = intercept[BadRequestError](e.deleteChunk(lib.id, "d2", "b00"))
      assert(err.getMessage.contains("spilled tier"))
      // compacting a fully-retired archive empties it and re-arms spill
      e.deleteDocument(lib.id, "d2")
      val Some((_, zero)) = e.compactSpill()
      assert(zero == 0 && e.chunksDF(spark).count() == 0)
      assert(e.compactSpill().isEmpty) // nothing spilled anymore
    } finally TestSpark.rmTree(dir)
  }

  test("a chunksDF snapshot taken before a spill never serves the moved segment twice") {
    // r13 review catch: resident rows were captured from one state while
    // the archived tier was listed from the directory at read time — a
    // spill in between served the moved segment from BOTH tiers. The
    // segment list now travels inside EngineState, so a snapshot's
    // (resident, archived) pair is consistent by construction.
    val (e, dir) = freshSpill("atomic")
    try {
      val lib = e.createLibrary("L")
      val doc = e.addDocument(lib.id, "D")
      (0 until 10).foreach { i => // exactly at maxChunks: next add spills
        e.addChunk(lib.id, doc.id, s"t $i", Some(oneHot(i)), id = Some(f"c$i%02d"))
      }
      val before = e.chunksDF(spark) // snapshot: 10 resident, 0 archived
      e.addChunk(lib.id, doc.id, "t 10", Some(oneHot(10)), id = Some("c10")) // spills the 10
      assert(before.count() == 10, "pre-spill snapshot double-served spilled rows")
      assert(before.select("id").distinct().count() == 10)
      assert(e.chunksDF(spark).count() == 11) // fresh snapshot sees all rows once
    } finally TestSpark.rmTree(dir)
  }

  test("re-creation within ONE clock instant still gets a fresh incarnation") {
    // r13 review catch: keying archived rows on the parent document's
    // created_at resurrects them when delete + re-create land inside one
    // timestamp granule. The key is an opaque nonce now — prove it with
    // a clock frozen to a single instant.
    val dir = java.nio.file.Files.createTempDirectory("graft_spill_frozen").toFile
    TestSpark.rmTree(dir)
    val e = new Engine(clock = () => java.time.Instant.ofEpochSecond(42),
      maxChunks = 10, spill = Some(EngineSpill(spark, dir.getAbsolutePath)))
    try {
      val lib = e.createLibrary("L")
      e.addDocument(lib.id, "old D", id = Some("doc1"))
      (0 until 12).foreach(i =>
        e.addChunk(lib.id, "doc1", s"old $i", Some(oneHot(i)), id = Some(f"old$i%02d")))
      e.deleteDocument(lib.id, "doc1")
      e.addDocument(lib.id, "new D", id = Some("doc1")) // same id, same instant
      e.addChunk(lib.id, "doc1", "fresh", Some(oneHot(0)), id = Some("fresh0"))
      val served = e.chunksDF(spark).select("id").collect().map(_.getString(0)).toSeq
      assert(served == Seq("fresh0"), s"same-instant re-creation resurrected: $served")
      assert(e.listChunks(lib.id, "doc1").map(_.id) == Vector("fresh0"))
    } finally TestSpark.rmTree(dir)
  }

  test("compactSpill's swap leaves no residue dirs and survives repetition") {
    val (e, dir) = freshSpill("swapres")
    try {
      val lib = e.createLibrary("L")
      e.addDocument(lib.id, "D1", id = Some("d1"))
      e.addDocument(lib.id, "D2", id = Some("d2"))
      (0 until 12).foreach(i =>
        e.addChunk(lib.id, "d1", s"a $i", Some(oneHot(i)), id = Some(f"a$i%02d")))
      (0 until 12).foreach(i =>
        e.addChunk(lib.id, "d2", s"b $i", Some(oneHot(i)), id = Some(f"b$i%02d")))
      e.deleteDocument(lib.id, "d1")
      e.compactSpill()
      // the failure-safe swap (write new segment -> publish state ->
      // delete old segments) must leave the spill root holding exactly
      // the one live compacted segment
      def segDirs() = dir.listFiles().filter(_.isDirectory).map(_.getName).sorted.toSeq
      assert(segDirs().size == 1, s"stale segments left: ${segDirs()}")
      // a second, nothing-to-reclaim compaction runs the same swap path
      val Some((b2, a2)) = e.compactSpill()
      assert(b2 == a2, "second compaction had nothing to reclaim")
      assert(segDirs().size == 1, s"stale segments left: ${segDirs()}")
      // serving and the spilled-tier probe still work after two swaps
      assert(e.chunksDF(spark).count() == 12)
      assert(e.listChunks(lib.id, "d2").size == 12)
      // the immutability probe exercises isSpilled against the
      // post-swap directory + rebuilt Bloom
      intercept[BadRequestError](e.deleteChunk(lib.id, "d2", "b00"))
    } finally TestSpark.rmTree(dir)
  }

  test("without spill mode the capacity guard still throws") {
    val e = new Engine(maxChunks = 3)
    val lib = e.createLibrary("L")
    val doc = e.addDocument(lib.id, "D")
    (0 until 3).foreach(i => e.addChunk(lib.id, doc.id, s"t$i", Some(oneHot(i))))
    intercept[EngineCapacityError](e.addChunk(lib.id, doc.id, "over", Some(oneHot(9))))
  }
}
