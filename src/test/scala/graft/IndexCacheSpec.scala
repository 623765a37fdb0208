package graft

import graft.embed.HashingEmbedder
import graft.index.{BruteForceKnn, IndexCache, RandomHyperplaneLsh}
import graft.search.SearchService
import graft.state.Engine
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

class IndexCacheSpec extends AnyFunSuite {
  val spark = TestSpark.spark

  private def seeded(): (Engine, String, String) = {
    val e = new Engine()
    val emb = HashingEmbedder(dim = 8)
    val lib = e.createLibrary("c").id
    val doc = e.addDocument(lib, "d").id
    Seq("a b", "c d").foreach(t => e.addChunk(lib, doc, t, Some(emb.embed(t))))
    (e, lib, doc)
  }

  test("same version hits the cache; mutation bumps version and misses") {
    val (e, lib, doc) = seeded()
    val cache = new IndexCache()
    val lsh = RandomHyperplaneLsh(2, 4, 42L)
    val df1 = cache.bucketed(e, spark, lib, lsh, 8)
    val df2 = cache.bucketed(e, spark, lib, lsh, 8)
    assert(df1 eq df2) // cache hit: same version, same params
    assert(cache.size == 1)
    e.addChunk(lib, doc, "e f", Some(HashingEmbedder(dim = 8).embed("e f")))
    val df3 = cache.bucketed(e, spark, lib, lsh, 8)
    assert(!(df3 eq df1)) // version bump -> rebuild
    assert(df3.count() == 3 && df1.count() == 2) // old snapshot stays consistent
  }

  test("maxEntries bounds the cache globally (LRU eviction across libraries)") {
    val e = new Engine()
    val emb = HashingEmbedder(dim = 8)
    val libs = (1 to 4).map { i =>
      val lib = e.createLibrary(s"lib$i").id
      val doc = e.addDocument(lib, "d").id
      e.addChunk(lib, doc, s"text $i", Some(emb.embed(s"text $i")))
      lib
    }
    val cache = new IndexCache(maxEntries = 2)
    val lsh = RandomHyperplaneLsh(2, 4, 42L)
    libs.foreach(lib => cache.bucketed(e, spark, lib, lsh, 8))
    assert(cache.size <= 2) // distinct libraries, no stale versions — still bounded
    // most-recently-used survives
    val last = cache.bucketed(e, spark, libs.last, lsh, 8)
    assert(last eq cache.bucketed(e, spark, libs.last, lsh, 8))
  }

  test("different LSH params are distinct entries; invalidate clears a library") {
    val (e, lib, _) = seeded()
    val cache = new IndexCache()
    cache.bucketed(e, spark, lib, RandomHyperplaneLsh(2, 4, 42L), 8)
    cache.bucketed(e, spark, lib, RandomHyperplaneLsh(4, 4, 42L), 8)
    assert(cache.size == 2)
    cache.invalidate(lib)
    assert(cache.size == 0)
  }

  test("one cached snapshot per version feeds searches and bucketing; clear releases every frame") {
    val (e, lib, doc) = seeded()
    val cache = new IndexCache()
    val s1 = cache.snapshot(e, spark, lib)
    assert(cache.snapshot(e, spark, lib) eq s1) // same version: same entry
    assert(s1.frame.storageLevel != StorageLevel.NONE)
    cache.bucketed(e, spark, lib, RandomHyperplaneLsh(2, 4, 42L), 8)
    assert(cache.frames.size == 2 && cache.size == 1) // snapshot + bucketed
    e.addChunk(lib, doc, "e f", Some(HashingEmbedder(dim = 8).embed("e f")))
    val s2 = cache.snapshot(e, spark, lib)
    assert(!(s2 eq s1) && s2.version == s1.version + 1)
    assert(s1.frame.storageLevel == StorageLevel.NONE) // stale version released
    assert(s2.frame.count() == 3 && s1.frame.count() == 2)
    val held = cache.frames
    assert(held.nonEmpty)
    cache.clear()
    assert(cache.frames.isEmpty && held.forall(_.storageLevel == StorageLevel.NONE))
  }

  test("a library re-created under its old id never hits the deleted library's entries") {
    val e = new Engine()
    val emb = HashingEmbedder(dim = 8)
    def create(texts: Seq[String]): Unit = {
      e.createLibrary("lib", id = Some("L"))
      e.addDocument("L", "d", id = Some("D"))
      texts.foreach(t => e.addChunk("L", "D", t, Some(emb.embed(t)), id = Some(t)))
    }
    val cache = new IndexCache()
    val svc = new SearchService(spark, e, Some(emb), indexCache = Some(cache))
    val lsh = RandomHyperplaneLsh(8, 12)
    create(Seq("old a", "old b"))
    val q = Some("old a")
    assert(svc.search("L", queryText = q, k = 5, index = "lsh").hits.nonEmpty)
    assert(cache.bucketed(e, spark, "L", lsh, 8).count() == 2)
    val oldVersion = e.getLibrary("L").version
    e.deleteLibrary("L")
    create(Seq("new a", "new b"))
    assert(e.getLibrary("L").version == oldVersion) // same id, same version
    for (index <- Seq("lsh", "brute")) {
      val hits = svc.search("L", queryText = q, k = 5, index = index).hits
      assert(hits.map(_.chunk_id).toSet == Set("new a", "new b"), s"$index served $hits")
    }
    assert(cache.bucketed(e, spark, "L", lsh, 8)
      .select("id").collect().map(_.getString(0)).toSet == Set("new a", "new b"))
  }

  test("a snapshot evicted while in use still answers") {
    val e = new Engine()
    val emb = HashingEmbedder(dim = 8)
    val libs = Seq("A", "B", "C").map { name =>
      val lib = e.createLibrary(name).id
      val doc = e.addDocument(lib, "d").id
      (0 until 40).foreach { i =>
        val text = s"$name text $i"
        e.addChunk(lib, doc, text, Some(emb.embed(text)))
      }
      lib
    }
    val cache = new IndexCache(maxEntries = 2)
    val held = cache.snapshot(e, spark, libs.head)
    assert(held.frame.count() == 40) // A's blocks are cached
    libs.tail.foreach(lib => cache.snapshot(e, spark, lib))
    assert(!cache.frames.exists(_ eq held.frame)) // A was evicted
    assert(held.frame.storageLevel == StorageLevel.NONE)
    val q = emb.embed("A text 3")
    def cos(v: Array[Float]): Double = {
      val dot = v.zip(q).map { case (a, b) => a.toDouble * b }.sum
      dot / math.sqrt(v.map(x => x.toDouble * x).sum * q.map(x => x.toDouble * x).sum)
    }
    val want = e.state.chunks.filter(_.library_id == libs.head)
      .map(c => (c.id, cos(c.embedding.get))).sortBy { case (id, s) => (-s, id) }.take(5)
    val got = BruteForceKnn.search(held.frame, col("embedding"), col("id"), q, 5)
      .select("id", "score").collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got.map(_._1) == want.map(_._1), s"$got vs $want")
    got.zip(want).foreach { case ((_, g), (_, w)) => assert(math.abs(g - w) < 1e-5) }
    cache.clear()
  }
}
