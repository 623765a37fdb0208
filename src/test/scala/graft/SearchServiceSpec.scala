package graft

import graft.embed.{Embedder, HashingEmbedder}
import graft.index.IndexCache
import graft.search.SearchService
import graft.state.Engine
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Search-semantics fixtures the reference never unit-tested
  * (FIXTURES.md §3): demo.py-style library — 1 doc, 5 chunks with
  * `type` metadata (landmark×3, city×2), deterministic embeddings.
  */
class SearchServiceSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  private val embedder = HashingEmbedder(dim = 16)

  private def fixture(): (Engine, String) = {
    val e = new Engine()
    val lib = e.createLibrary("demo").id
    val doc = e.addDocument(lib, "landmarks").id
    val texts = Seq(
      ("eiffel tower paris landmark", "landmark"),
      ("statue of liberty new york landmark", "landmark"),
      ("big ben london landmark", "landmark"),
      ("paris capital of france", "city"),
      ("london capital of england", "city"))
    texts.foreach { case (t, typ) =>
      e.addChunk(lib, doc, t, Some(embedder.embed(t)), Map("type" -> typ))
    }
    (e, lib)
  }

  /** The semantic cases run against both constructions: without an
    * IndexCache (the case's plain name) and with one. */
  private val constructions: Seq[(String, (Engine, Embedder) => SearchService)] = Seq(
    "" -> ((e, emb) => new SearchService(spark, e, Some(emb))),
    " (with IndexCache)" -> ((e, emb) =>
      new SearchService(spark, e, Some(emb), indexCache = Some(new IndexCache()))))

  constructions.foreach { case (suffix, service) =>
    test("top-k search returns the query's own chunk first at score ~1" + suffix) {
      val (e, lib) = fixture()
      val svc = service(e, embedder)
      val res = svc.search(lib, queryText = Some("eiffel tower paris landmark"), k = 3)
      assert(res.hits.size == 3)
      assert(res.hits.head.text == "eiffel tower paris landmark")
      assert(math.abs(res.hits.head.score - 1.0) < 1e-6)
      assert(res.index == "brute" && res.indexUsed.contains("brute"))
      assert(res.libraryVersion == 6) // 1 doc + 5 chunks
    }

    test("metadata filter is conjunctive exact-match (search_service.py:62-81)" + suffix) {
      val (e, lib) = fixture()
      val svc = service(e, embedder)
      val res = svc.search(lib, queryText = Some("capital"), k = 10,
        filters = Map("type" -> "city"))
      assert(res.hits.size == 2)
      assert(res.hits.forall(_.metadata("type") == "city"))
    }

    test("filter on missing metadata key never matches; envelope has no index_used" + suffix) {
      val (e, lib) = fixture()
      val svc = service(e, embedder)
      val res = svc.search(lib, queryText = Some("x"), k = 5,
        filters = Map("missing_key" -> "v"))
      assert(res.hits.isEmpty && res.indexUsed.isEmpty)
      assert(res.libraryVersion == 6)
    }

    test("k <= 0 early-exits without index_used (search_service.py:95-96)" + suffix) {
      val (e, lib) = fixture()
      val svc = service(e, embedder)
      val res = svc.search(lib, queryText = Some("x"), k = 0)
      assert(res.hits.isEmpty && res.indexUsed.isEmpty)
    }

    test("chunks with NULL embedding are skipped" + suffix) {
      val (e, lib) = fixture()
      val doc = e.listDocuments(lib).head.id
      e.addChunk(lib, doc, "unembedded", None)
      val svc = service(e, embedder)
      val res = svc.search(lib, queryText = Some("unembedded"), k = 10)
      assert(res.hits.size == 5)
      assert(!res.hits.exists(_.text == "unembedded"))
    }

    test("missing library -> NotFound; unknown index -> error; no query -> error" + suffix) {
      val (e, lib) = fixture()
      val svc = service(e, embedder)
      intercept[graft.state.NotFoundError](svc.search("nope", queryText = Some("x")))
      intercept[IllegalArgumentException](
        svc.search(lib, queryText = Some("x"), index = "hnsw"))
      intercept[IllegalArgumentException](svc.search(lib))
    }

    test("dim mismatch on brute raises (brute_force.py:36-37)" + suffix) {
      val (e, lib) = fixture()
      val svc = service(e, embedder)
      intercept[IllegalArgumentException](
        svc.search(lib, queryEmbedding = Some(Array(1f, 2f)), k = 3))
    }

    test("dim mismatch on lsh raises too (reference errors inside NumPy; we error cleanly)" + suffix) {
      val (e, lib) = fixture()
      val svc = service(e, embedder)
      intercept[IllegalArgumentException](
        svc.search(lib, queryEmbedding = Some(Array(1f, 2f)), k = 3, index = "lsh"))
    }

    test("query text embeds at the corpus dimension, not the embedder's default" + suffix) {
      val (e, lib) = fixture() // corpus embedded at dim=16
      val svc = service(e, HashingEmbedder(dim = 64))
      val res = svc.search(lib, queryText = Some("eiffel tower paris"), k = 1)
      assert(res.hits.nonEmpty) // would throw on dim guard if embedded at 64
    }

    test("a filter matching no row returns no hits and no index_used" + suffix) {
      val (e, lib) = fixture()
      val res = service(e, embedder).search(lib, queryText = Some("x"), k = 5,
        filters = Map("type" -> "river"))
      assert(res.hits.isEmpty && res.indexUsed.isEmpty)
      assert(res.libraryVersion == 6)
    }

    test("mixed-dim library: the first filtered row's dim decides" + suffix) {
      val e = new Engine()
      val lib = e.createLibrary("mixed").id
      val doc = e.addDocument(lib, "d").id
      val wide = HashingEmbedder(dim = 16)
      val narrow = HashingEmbedder(dim = 8)
      e.addChunk(lib, doc, "wide one", Some(wide.embed("wide one")), Map("type" -> "w"))
      e.addChunk(lib, doc, "narrow one", Some(narrow.embed("narrow one")), Map("type" -> "n"))
      e.addChunk(lib, doc, "wide two", Some(wide.embed("wide two")), Map("type" -> "w"))
      val svc = service(e, embedder)
      // unfiltered, the first row is 16-d
      intercept[IllegalArgumentException](
        svc.search(lib, queryEmbedding = Some(narrow.embed("narrow one")), k = 1))
      // under type=n the first (only) row is 8-d: the 8-d query serves,
      // and text embeds at 8
      val n = svc.search(lib, queryEmbedding = Some(narrow.embed("narrow one")), k = 3,
        filters = Map("type" -> "n"))
      assert(n.hits.map(_.text) == Seq("narrow one") && n.indexUsed.contains("brute"))
      assert(svc.search(lib, queryText = Some("narrow one"), k = 3,
        filters = Map("type" -> "n")).hits.map(_.text) == Seq("narrow one"))
      intercept[IllegalArgumentException](
        svc.search(lib, queryEmbedding = Some(wide.embed("wide one")), k = 1,
          filters = Map("type" -> "n")))
      val w = svc.search(lib, queryEmbedding = Some(wide.embed("wide one")), k = 3,
        filters = Map("type" -> "w"))
      assert(w.hits.map(_.text) == Seq("wide one", "wide two"))
    }
  }

  test("cached-index lsh path returns identical results and reuses the bucketed frame") {
    val (e, lib) = fixture()
    val cache = new IndexCache()
    val plain = new SearchService(spark, e, Some(embedder))
    val cached = new SearchService(spark, e, Some(embedder), indexCache = Some(cache))
    val qt = Some("eiffel tower paris landmark")
    val a = plain.search(lib, queryText = qt, k = 3, index = "lsh")
    val b = cached.search(lib, queryText = qt, k = 3, index = "lsh")
    assert(a.hits == b.hits && a.indexUsed == b.indexUsed)
    assert(cache.size == 1)
    // repeated search at the same version: cache hit, same answer
    val c = cached.search(lib, queryText = qt, k = 3, index = "lsh")
    assert(c.hits == b.hits)
    assert(cache.size == 1)
    // metadata filters compose with the cached frame
    val f = cached.search(lib, queryText = qt, k = 3, index = "lsh",
      filters = Map("type" -> "landmark"))
    assert(f.hits.forall(_.metadata.get("type").contains("landmark")))
  }

  test("lsh index reports index/index_used; falls back to brute on zero candidates") {
    val (e, lib) = fixture()
    val svc = new SearchService(spark, e, Some(embedder))
    val res = svc.search(lib, queryText = Some("eiffel tower paris landmark"),
      k = 3, index = "lsh")
    assert(res.index == "lsh")
    // either genuine lsh hits or the small-corpus brute fallback; both
    // must surface which one actually ran (search_service.py:127-131)
    assert(res.indexUsed.contains("lsh") || res.indexUsed.contains("brute"))
    assert(res.hits.nonEmpty)
    assert(res.hits.head.score >= res.hits.last.score)
  }

  test("a brute search at a cached version runs one job over an InMemoryRelation, no LocalRelation") {
    val (e, lib) = fixture()
    val svc = new SearchService(spark, e, Some(embedder), indexCache = Some(new IndexCache()))
    val qt = Some("eiffel tower paris landmark")
    svc.search(lib, queryText = qt, k = 3) // builds the entry at this version
    var jobs = 0
    val plans = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    val jobListener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans += qe.optimizedPlan
      override def onFailure(f: String, qe: QueryExecution, err: Exception): Unit = ()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      val res = svc.search(lib, queryText = qt, k = 3)
      ListenerBusDrain(spark.sparkContext)
      assert(res.indexUsed.contains("brute") && res.hits.size == 3)
      assert(jobs == 1, s"$jobs jobs")
      assert(plans.size == 1, plans.mkString("\n"))
      assert(plans.head.exists(_.isInstanceOf[InMemoryRelation]), plans.head)
      assert(!plans.head.exists(_.isInstanceOf[LocalRelation]), plans.head)
    } finally {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
  }
}
