package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, CyclicBarrier, TimeUnit}

import com.fasterxml.jackson.databind.ObjectMapper
import graft.api.HttpApi
import graft.embed.{Embedder, HashingEmbedder}
import graft.state.{Engine, EngineState}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** HTTP-level tests in the style of the reference's FastAPI TestClient
  * suite (tests/test_crud.py): real requests against the running
  * server, status codes + payload shapes asserted.
  */
class HttpApiSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  private def withApi[A](f: (String) => A): A = {
    val api = new HttpApi(spark, new Engine(), HashingEmbedder(dim = 16))
    val port = api.start()
    try f(s"http://127.0.0.1:$port")
    finally api.stop()
  }

  private def req(method: String, url: String, body: String = ""): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(url))
    val r = method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case m => b.method(m, HttpRequest.BodyPublishers.ofString(body))
    }
    client.send(r.build(), HttpResponse.BodyHandlers.ofString())
  }

  test("full REST lifecycle: library -> document -> chunks -> search -> cascade delete") {
    withApi { base =>
      // create library (201), reference payload shape
      val lib = req("POST", s"$base/vector_db/libraries",
        """{"name": "Full Library", "description": "A complete library", "metadata": {"tags": "test,demo"}}""")
      assert(lib.statusCode() == 201)
      val libId = mapper.readTree(lib.body()).get("id").asText()
      assert(mapper.readTree(lib.body()).get("version").asInt() == 0)

      // document + chunks
      val doc = req("POST", s"$base/vector_db/libraries/$libId/documents",
        """{"title": "Test Document"}""")
      assert(doc.statusCode() == 201)
      val docId = mapper.readTree(doc.body()).get("id").asText()
      val c1 = req("POST", s"$base/vector_db/libraries/$libId/documents/$docId/chunks",
        """{"text": "eiffel tower in paris", "metadata": {"type": "landmark"}}""")
      assert(c1.statusCode() == 201)
      assert(req("POST", s"$base/vector_db/libraries/$libId/documents/$docId/chunks",
        """{"text": "paris capital of france", "embedding": [0.1, 0.2], "metadata": {"type": "city"}}""").statusCode() == 201)
      val list = req("GET", s"$base/vector_db/libraries/$libId/documents/$docId/chunks")
      assert(mapper.readTree(list.body()).size() == 2)

      // update chunk text (no embedding) -> server re-embeds
      val chunkId = mapper.readTree(c1.body()).get("id").asText()
      val up = req("PUT", s"$base/vector_db/libraries/$libId/documents/$docId/chunks/$chunkId",
        """{"text": "eiffel tower is in paris france"}""")
      assert(up.statusCode() == 200)
      assert(mapper.readTree(up.body()).get("embedding").size() == 16)

      // search with NULL-embedding-free corpus: given embedding chunk has dim 2,
      // search by text (dim 16) would dim-mismatch on brute over mixed dims ->
      // use a filter restricting to the landmark chunk
      val search = req("POST", s"$base/vector_db/libraries/$libId/search",
        """{"query_text": "eiffel tower paris", "k": 3, "filters": {"type": "landmark"}}""")
      assert(search.statusCode() == 200)
      val senv = mapper.readTree(search.body())
      assert(senv.get("hits").size() == 1)
      assert(senv.get("index").asText() == "brute" && senv.get("index_used").asText() == "brute")
      assert(!senv.get("durable_execution").asBoolean())
      assert(senv.get("library_version").asInt() == 4) // doc +1, 2 chunks +2, chunk update +1

      // cascade delete library, verify 404s
      assert(req("DELETE", s"$base/vector_db/libraries/$libId").statusCode() == 204)
      assert(req("GET", s"$base/vector_db/libraries/$libId").statusCode() == 404)
      assert(req("GET", s"$base/vector_db/libraries/$libId/documents").statusCode() == 404)
    }
  }

  test("stop releases every frame the API cached") {
    val e = new Engine()
    val emb = HashingEmbedder(dim = 16)
    val lib = e.createLibrary("L").id
    val doc = e.addDocument(lib, "D").id
    Seq("eiffel tower", "big ben", "statue of liberty")
      .foreach(t => e.addChunk(lib, doc, t, Some(emb.embed(t))))
    val api = new HttpApi(spark, e, emb)
    val port = api.start()
    val cached = try {
      for (index <- Seq("brute", "lsh"))
        assert(req("POST", s"http://127.0.0.1:$port/vector_db/libraries/$lib/search",
          s"""{"query_text": "eiffel tower", "k": 2, "index": "$index"}""").statusCode() == 200)
      val frames = api.indexCache.frames
      assert(frames.size == 2) // the library's snapshot and its bucketed frame
      assert(frames.forall(_.storageLevel != StorageLevel.NONE))
      frames
    } finally api.stop()
    assert(api.indexCache.frames.isEmpty)
    assert(cached.forall(_.storageLevel == StorageLevel.NONE))
  }

  /** A `HashingEmbedder(dim = 16)` whose `embedAt` (the query path)
    * first runs `gate`. */
  private def gatedEmbedder(gate: () => Unit): Embedder = new Embedder {
    private val base = HashingEmbedder(dim = 16)
    def dim: Int = base.dim
    def embed(text: String): Array[Float] = base.embed(text)
    override def embedAt(text: String, d: Int): Array[Float] = { gate(); base.embedAt(text, d) }
  }

  /** An engine with one library of three embedded chunks; its id. */
  private def landmarks(e: Engine): String = {
    val emb = HashingEmbedder(dim = 16)
    val lib = e.createLibrary("L").id
    val doc = e.addDocument(lib, "D").id
    Seq("eiffel tower", "big ben", "statue of liberty")
      .foreach(t => e.addChunk(lib, doc, t, Some(emb.embed(t))))
    lib
  }

  private def searchRequest(url: String, body: String): HttpRequest =
    HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()

  test("two searches run side by side on the handler pool") {
    // each search's embedder waits for the other at a barrier: served one
    // after the other, the first would time out waiting for the second
    val barrier = new CyclicBarrier(2)
    val e = new Engine()
    val lib = landmarks(e)
    val api = new HttpApi(spark, e, gatedEmbedder(() => barrier.await(10, TimeUnit.SECONDS): Unit))
    val port = api.start()
    try {
      val url = s"http://127.0.0.1:$port/vector_db/libraries/$lib/search"
      val pending = Seq("eiffel tower", "big ben").map(q => client.sendAsync(
        searchRequest(url, s"""{"query_text": "$q", "k": 2}"""), HttpResponse.BodyHandlers.ofString()))
      pending.map(_.get(30, TimeUnit.SECONDS)).foreach { r =>
        assert(r.statusCode() == 200, s"concurrent search failed: ${r.body()}")
      }
    } finally api.stop()
  }

  test("concurrent brute searches under a writer answer the exact top-k of the version they report") {
    val e = new Engine()
    val lib = e.createLibrary("C").id
    val doc = e.addDocument(lib, "D").id
    val dim = 8
    val rng = new scala.util.Random(31)
    def vec(): Array[Float] = Array.fill(dim)(rng.nextGaussian().toFloat)
    (0 until 40).foreach(i => e.addChunk(lib, doc, s"c$i", Some(vec())))
    // the one writer publishes each version before any search can report it
    val states = new ConcurrentHashMap[Int, EngineState]()
    def capture(): Unit = { val s = e.state; states.put(s.library(lib).version, s): Unit }
    capture()
    val queries = Array.fill(4, 12)(vec())
    val writes = Array.fill(20)(vec())
    def json(v: Array[Float]) = v.mkString("[", ",", "]")

    val api = new HttpApi(spark, e, HashingEmbedder(dim = dim))
    val base = s"http://127.0.0.1:${api.start()}/vector_db/libraries/$lib"
    // per reader: (query, status, reported version, hit ids with scores)
    val answers = Array.fill(4)(Vector.empty[(Array[Float], Int, Int, Seq[(String, Double)])])
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def run(body: => Unit): Thread = {
      val t = new Thread(() => try body catch { case err: Throwable => failures.add(err): Unit })
      t.start()
      t
    }
    try {
      val readers = (0 until 4).map { t =>
        run {
          queries(t).foreach { q =>
            val r = req("POST", s"$base/search", s"""{"query_embedding": ${json(q)}, "k": 5}""")
            val env = mapper.readTree(r.body())
            val hits =
              if (r.statusCode() != 200) Nil
              else (0 until env.get("hits").size()).map { i =>
                val h = env.get("hits").get(i)
                h.get("chunk_id").asText() -> h.get("score").asDouble()
              }
            val version = if (r.statusCode() == 200) env.get("library_version").asInt() else -1
            answers(t) = answers(t) :+ ((q, r.statusCode(), version, hits))
          }
        }
      }
      val writer = run {
        writes.zipWithIndex.foreach { case (w, i) =>
          val r = req("POST", s"$base/documents/$doc/chunks",
            s"""{"text": "w$i", "embedding": ${json(w)}}""")
          assert(r.statusCode() == 201, s"write failed: ${r.body()}")
          capture()
        }
      }
      (readers :+ writer).foreach(_.join())
    } finally api.stop()

    assert(failures.isEmpty, s"a client thread failed: ${failures.peek()}")
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.indices.map(i => a(i).toDouble * b(i)).sum
      dot / math.sqrt(a.map(x => x.toDouble * x).sum * b.map(x => x.toDouble * x).sum)
    }
    answers.zipWithIndex.foreach { case (rs, t) =>
      assert(rs.size == 12)
      rs.foreach { case (q, status, version, hits) =>
        assert(status == 200)
        val s = Option(states.get(version)).getOrElse(
          fail(s"reader $t reported version $version, which no write published"))
        val exact = s.chunks.filter(c => c.library_id == lib && c.embedding.isDefined)
          .map(c => c.id -> cosine(q, c.embedding.get))
          .sortBy { case (id, score) => (-score, id) }.take(5)
        assert(hits.map(_._1) == exact.map(_._1), s"reader $t at version $version")
        hits.zip(exact).foreach { case ((_, got), (_, want)) => assert(math.abs(got - want) < 1e-5) }
      }
      val versions = rs.map(_._3)
      assert(versions == versions.sorted, s"reader $t saw versions go back: $versions")
    }
  }

  test("stop waits for an in-flight search before releasing the cache") {
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val e = new Engine()
    val lib = landmarks(e)
    val api = new HttpApi(spark, e, gatedEmbedder { () =>
      entered.countDown()
      release.await(30, TimeUnit.SECONDS): Unit
    })
    val port = api.start()
    // lsh: the bucketed frame is cached AFTER the embedder returns, so a
    // stop that did not wait would clear the cache before this insert
    val inflight = client.sendAsync(searchRequest(
      s"http://127.0.0.1:$port/vector_db/libraries/$lib/search",
      """{"query_text": "eiffel tower", "k": 2, "index": "lsh"}"""),
      HttpResponse.BodyHandlers.ofString())
    assert(entered.await(30, TimeUnit.SECONDS), "the search never reached the embedder")
    val stopper = new Thread(() => api.stop())
    stopper.start()
    Thread.sleep(300)
    assert(stopper.isAlive, "stop() returned while a handler was still running")
    release.countDown()
    stopper.join(60000)
    assert(!stopper.isAlive, "stop() did not return after the handler finished")
    assert(api.indexCache.frames.isEmpty)
    inflight.handle((_, _) => ()): Unit // the server closed the connection
  }

  test("validation and 404 mapping mirrors the routers") {
    withApi { base =>
      assert(req("POST", s"$base/vector_db/libraries", """{}""").statusCode() == 400)
      assert(req("GET", s"$base/vector_db/libraries/nope").statusCode() == 404)
      assert(req("DELETE", s"$base/vector_db/libraries/nope").statusCode() == 404)
      val lib = req("POST", s"$base/vector_db/libraries", """{"name": "x"}""")
      val libId = mapper.readTree(lib.body()).get("id").asText()
      assert(req("PUT", s"$base/vector_db/libraries/$libId", """{}""").statusCode() == 400)
      val doc = req("POST", s"$base/vector_db/libraries/$libId/documents", """{"title": "t"}""")
      val docId = mapper.readTree(doc.body()).get("id").asText()
      assert(req("PUT", s"$base/vector_db/libraries/$libId/documents/$docId", """{}""").statusCode() == 400)
      // search without query -> 400; search on missing lib -> 404
      assert(req("POST", s"$base/vector_db/libraries/$libId/search", """{"k": 3}""").statusCode() == 400)
      assert(req("POST", s"$base/vector_db/libraries/nope/search",
        """{"query_text": "x"}""").statusCode() == 404)
      // k <= 0 -> empty hits, envelope WITHOUT index_used (search_service.py:95-96)
      val c = req("POST", s"$base/vector_db/libraries/$libId/documents/$docId/chunks",
        """{"text": "abc"}""")
      assert(c.statusCode() == 201)
      val empty = req("POST", s"$base/vector_db/libraries/$libId/search",
        """{"query_text": "abc", "k": 0}""")
      val env = mapper.readTree(empty.body())
      assert(env.get("hits").size() == 0 && !env.has("index_used"))
    }
  }

  test("registered at-rest tier serves the same REST envelope; index_used distinguishes the tier") {
    // r16 (r15 verdict #5): the SAME engine behind two HttpApis — one
    // plain (reference-parity transient serving), one with the
    // AtRestIndexBridge — must answer the same request with the same
    // hits, index and library_version; only index_used tells the tier.
    graft.plans.LshProbeRewrite.clear()
    try {
      val engine = new Engine()
      engine.createLibrary(name = "Bridged", id = Some("blib"))
      engine.addDocument("blib", title = "d", id = Some("bdoc"))
      val dim = 8
      val rng = new scala.util.Random(11)
      val qv = Array.fill(dim)(rng.nextGaussian().toFloat)
      // 20 exact copies of the query vector (score 1.0, fills any top-5
      // identically on every path) + 50 far vectors
      (0 until 20).foreach { i =>
        engine.addChunk("blib", "bdoc", text = s"copy-$i",
          embedding = Some(qv.clone()),
          metadata = Map("grp" -> (if (i < 10) "a" else "b")),
          id = Some(f"c$i%02d")): Unit
      }
      (0 until 50).foreach { i =>
        engine.addChunk("blib", "bdoc", text = s"far-$i",
          embedding = Some(Array.fill(dim)(rng.nextGaussian().toFloat)),
          metadata = Map("grp" -> "far"), id = Some(f"f$i%02d")): Unit
      }
      val bridge = new graft.search.AtRestIndexBridge("target/test-index/at-rest-bridge")
      TestSpark.rmTree(new java.io.File("target/test-index/at-rest-bridge"))
      graft.index.IndexGenerations.clear()
      val path1 = bridge.register(spark, engine, "blib")

      def searchVia(useBridge: Boolean, body: String) = {
        val api = new HttpApi(spark, engine, HashingEmbedder(dim = dim),
          atRest = if (useBridge) Some(bridge) else None)
        val port = api.start()
        try {
          val r = req("POST",
            s"http://127.0.0.1:$port/vector_db/libraries/blib/search", body)
          assert(r.statusCode() == 200,
            s"search (bridge=$useBridge) failed ${r.statusCode()}: ${r.body()}")
          mapper.readTree(r.body())
        } finally api.stop()
      }
      val qJson = qv.map(_.toString).mkString("[", ",", "]")

      // unfiltered: static probe through the rule vs the transient path
      val body = s"""{"query_embedding": $qJson, "k": 5, "index": "lsh"}"""
      val plain = searchVia(useBridge = false, body)
      val served = searchVia(useBridge = true, body)
      def hitIds(n: com.fasterxml.jackson.databind.JsonNode): Seq[String] = {
        val it = n.get("hits").elements()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next().get("chunk_id").asText()).toSeq
      }
      assert(hitIds(served) == hitIds(plain), "hits must be tier-independent")
      assert(served.get("index").asText() == plain.get("index").asText())
      assert(served.get("library_version").asInt() == plain.get("library_version").asInt())
      assert(served.get("index_used").asText() == "lsh_at_rest",
        s"bridged tier must report itself, got ${served.get("index_used")}")
      assert(plain.get("index_used").asText() != "lsh_at_rest")

      // filtered: the guaranteed-k ladder serves through the rule —
      // 10 copies carry grp=a, so the exact-bucket rung fills k=5
      val fBody = s"""{"query_embedding": $qJson, "k": 5, "index": "lsh", "filters": {"grp": "a"}}"""
      val fPlain = searchVia(useBridge = false, fBody)
      val fServed = searchVia(useBridge = true, fBody)
      assert(hitIds(fServed) == hitIds(fPlain))
      assert(fServed.get("index_used").asText() == "at_rest_lsh",
        s"filtered bridged serve must ride the ladder's exact rung, " +
          s"got ${fServed.get("index_used")}")

      // staleness: a mutation bumps the version -> the stale
      // registration falls back to the transient path (same hits)
      engine.addChunk("blib", "bdoc", text = "late",
        embedding = Some(Array.fill(dim)(rng.nextGaussian().toFloat)),
        metadata = Map("grp" -> "far"), id = Some("late1")): Unit
      val stale = searchVia(useBridge = true, body)
      assert(hitIds(stale) == hitIds(plain))
      assert(stale.get("index_used").asText() != "lsh_at_rest",
        "a stale registration must not serve the old layout")
      // re-register at the new version: served again, and the old
      // generation is RETIRED through the catalog (no leases -> gone)
      val path2 = bridge.register(spark, engine, "blib")
      val fresh = searchVia(useBridge = true, body)
      assert(fresh.get("index_used").asText() == "lsh_at_rest")
      assert(path1 != path2 && new java.io.File(path2).exists())
      assert(!new java.io.File(path1).exists(),
        "re-register must retire the previous generation")

      // the IVF KIND through the same bridge (r16): registerIvf swaps
      // the library onto an IVF layout under the IVF guaranteed-k
      // policy — same hits, index_used names the kind, and the LSH
      // generation it replaces retires through the catalog
      val path3 = bridge.registerIvf(spark, engine, "blib", nprobe = 2, stride = 3L)
      val ivfServed = searchVia(useBridge = true, body)
      assert(hitIds(ivfServed) == hitIds(plain),
        "IVF-served hits must equal the transient path on the copies fixture")
      assert(ivfServed.get("index_used").asText() == "ivf_at_rest",
        s"got ${ivfServed.get("index_used")}")
      assert(!new java.io.File(path2).exists(),
        "kind swap must retire the replaced LSH generation")
      val ivfFiltered = searchVia(useBridge = true, fBody)
      assert(hitIds(ivfFiltered) == hitIds(fPlain))
      assert(ivfFiltered.get("index_used").asText().startsWith("at_rest_ivf"),
        s"filtered IVF serve must ride the IVF ladder, got ${ivfFiltered.get("index_used")}")
      assert(path3 != path2)

      // the HNSW KIND through the same bridge (r17, r16 verdict #4):
      // registerHnsw swaps the library onto a persisted shard-graph
      // layout — driver-orchestrated beam under the generation lease,
      // same envelope, index_used names the kind. The 20 exact copies
      // make hit-id ORDER tier-dependent (ties break on the hashed
      // node id), so equality is on the copies class, not the order.
      val path4 = bridge.registerHnsw(spark, engine, "blib")
      val hnswServed = searchVia(useBridge = true, body)
      assert(hnswServed.get("index_used").asText() == "hnsw_at_rest",
        s"got ${hnswServed.get("index_used")}")
      assert(hitIds(hnswServed).length == 5 &&
        hitIds(hnswServed).forall(_.startsWith("c")),
        s"top-5 over the copies fixture must all be query copies, " +
          s"got ${hitIds(hnswServed)}")
      assert(hnswServed.get("library_version").asInt() ==
        plain.get("library_version").asInt() + 1) // the 'late1' write
      assert(!new java.io.File(path3).exists(),
        "kind swap must retire the replaced IVF generation")
      // HNSW has no filtered form: a filtered search falls back to the
      // transient path — same hits, transient-tier index_used
      val hnswFiltered = searchVia(useBridge = true, fBody)
      assert(hitIds(hnswFiltered) == hitIds(fPlain))
      assert(!hnswFiltered.get("index_used").asText().contains("at_rest"),
        s"filtered search over an HNSW registration must serve transient, " +
          s"got ${hnswFiltered.get("index_used")}")
      assert(path4 != path3)
    } finally graft.plans.LshProbeRewrite.clear()
  }

  test("a stale session adopts the _current generation another session published") {
    // r17 (the manifest gap's other half): session A registered G1;
    // session B re-registered at a newer library version (G2 written,
    // _current repointed, G1 retired). A's entry is version-stale and
    // G1 is gone — without adoption A would serve transient fallbacks
    // forever. With the pointer, A's next serve ADOPTS G2 (restoring
    // the policy from the layout's _registration sidecar when needed)
    // and answers from the at-rest tier.
    graft.plans.LshProbeRewrite.clear()
    try {
      val engine = new Engine()
      engine.createLibrary(name = "Cur", id = Some("curlib"))
      engine.addDocument("curlib", title = "d", id = Some("cd"))
      val dim = 8
      val rng = new scala.util.Random(31)
      val qv = Array.fill(dim)(rng.nextGaussian().toFloat)
      (0 until 15).foreach { i =>
        engine.addChunk("curlib", "cd", text = s"c-$i",
          embedding = Some(qv.clone()), id = Some(f"c$i%02d")): Unit
      }
      val root = "target/test-index/at-rest-bridge-current"
      TestSpark.rmTree(new java.io.File(root))
      graft.index.IndexGenerations.clear()
      val bridgeA = new graft.search.AtRestIndexBridge(root)
      val g1 = bridgeA.register(spark, engine, "curlib")
      val svcA = new graft.search.SearchService(spark, engine, atRest = Some(bridgeA))
      assert(svcA.search("curlib", queryEmbedding = Some(qv), k = 3,
        index = "lsh").indexUsed.contains("lsh_at_rest"))

      // the library advances; ANOTHER session (bridge instance) builds
      // and publishes the new generation
      engine.addChunk("curlib", "cd", text = "late",
        embedding = Some(Array.fill(dim)(rng.nextGaussian().toFloat)),
        id = Some("late1")): Unit
      val bridgeB = new graft.search.AtRestIndexBridge(root)
      val g2 = bridgeB.register(spark, engine, "curlib")
      assert(g2 != g1 && !new java.io.File(g1).exists(),
        "B's swap must retire G1 (A held no lease)")

      // force the sidecar-restore branch: a FRESH process would not
      // have G2 in its in-memory registry
      graft.plans.LshProbeRewrite.unregister(g2)
      val res = svcA.search("curlib", queryEmbedding = Some(qv), k = 3,
        index = "lsh")
      assert(res.indexUsed.contains("lsh_at_rest"),
        s"session A must adopt the published generation, got ${res.indexUsed}")
      assert(res.libraryVersion == engine.getLibrary("curlib").version)
      assert(res.hits.nonEmpty && res.hits.head.score > 0.999)
    } finally graft.plans.LshProbeRewrite.clear()
  }

  test("a library re-created under its old id at the registered version is not served the deleted layout") {
    graft.plans.LshProbeRewrite.clear()
    try {
      val engine = new Engine()
      val dim = 8
      val rng = new scala.util.Random(47)
      val qv = Array.fill(dim)(rng.nextGaussian().toFloat)
      // the same write sequence twice, so both incarnations reach the
      // same version; only the first one holds a copy of the query
      def populate(withGhost: Boolean): Unit = {
        engine.createLibrary(name = "Re", id = Some("relib"))
        engine.addDocument("relib", title = "d", id = Some("rd"))
        engine.addChunk("relib", "rd", text = "first",
          embedding = Some(if (withGhost) qv.clone()
                           else Array.fill(dim)(rng.nextGaussian().toFloat)),
          id = Some(if (withGhost) "ghost" else "fresh")): Unit
        (0 until 14).foreach { i =>
          engine.addChunk("relib", "rd", text = s"far-$i",
            embedding = Some(Array.fill(dim)(rng.nextGaussian().toFloat)),
            id = Some(f"f$i%02d")): Unit
        }
      }
      populate(withGhost = true)
      val root = "target/test-index/at-rest-bridge-recreate"
      TestSpark.rmTree(new java.io.File(root))
      graft.index.IndexGenerations.clear()
      val bridgeA = new graft.search.AtRestIndexBridge(root)
      val g1 = bridgeA.register(spark, engine, "relib")
      val registered = engine.getLibrary("relib").version
      def lshSearch(bridge: graft.search.AtRestIndexBridge) =
        new graft.search.SearchService(spark, engine, atRest = Some(bridge))
          .search("relib", queryEmbedding = Some(qv), k = 3, index = "lsh")
      assert(lshSearch(bridgeA).hits.headOption.map(_.chunk_id).contains("ghost"))

      assert(engine.deleteLibrary("relib"))
      populate(withGhost = false)
      assert(engine.getLibrary("relib").version == registered)
      // the registering session's own entry, then a fresh session that
      // finds the deleted incarnation's generation in `_current`
      Seq("registering" -> bridgeA, "fresh" -> new graft.search.AtRestIndexBridge(root))
        .foreach { case (who, bridge) =>
          val res = lshSearch(bridge)
          assert(!res.hits.exists(_.chunk_id == "ghost"),
            s"$who session served the deleted library's chunk: ${res.hits.map(_.chunk_id)}")
          assert(!res.indexUsed.contains("lsh_at_rest"))
        }
      // registering the new incarnation serves it and retires the old one
      val g2 = bridgeA.register(spark, engine, "relib")
      val res = lshSearch(bridgeA)
      assert(g2 != g1 && !new java.io.File(g1).exists())
      assert(res.indexUsed.contains("lsh_at_rest") && !res.hits.exists(_.chunk_id == "ghost"))
    } finally graft.plans.LshProbeRewrite.clear()
  }

  test("batched search: one plan answers the request set; per-request envelopes match the single route") {
    // r17 stretch (r16 verdict #7): the batched serving wins surfaced
    // through the reference's own API shape. Same engine behind the
    // batch endpoint and the single-search route: per-request hits and
    // envelope must be identical; the bridge must have served the whole
    // batch from ONE plan (the broadcast bucket probe, no cross join).
    graft.plans.LshProbeRewrite.clear()
    try {
      val engine = new Engine()
      engine.createLibrary(name = "Batch", id = Some("batchlib"))
      engine.addDocument("batchlib", title = "d", id = Some("bd"))
      val dim = 8
      val rng = new scala.util.Random(23)
      val corpus = (0 until 60).map { i =>
        val v = Array.fill(dim)(rng.nextGaussian().toFloat)
        engine.addChunk("batchlib", "bd", text = s"t-$i",
          embedding = Some(v),
          metadata = Map("grp" -> (if (i % 2 == 0) "a" else "b")),
          id = Some(f"c$i%02d")): Unit
        v
      }
      val bridge = new graft.search.AtRestIndexBridge(
        "target/test-index/at-rest-bridge-batch")
      TestSpark.rmTree(new java.io.File("target/test-index/at-rest-bridge-batch"))
      graft.index.IndexGenerations.clear()
      bridge.register(spark, engine, "batchlib",
        graft.index.RandomHyperplaneLsh(8, 4, 42L)) // 4 planes: buckets populated at n=60
      val api = new HttpApi(spark, engine, HashingEmbedder(dim = dim),
        atRest = Some(bridge))
      val port = api.start()
      try {
        val qs = Seq(corpus(0), corpus(7), corpus(19))
        val qjson = qs.map(_.map(_.toString).mkString("[", ",", "]"))
          .mkString("[", ",", "]")
        val r = req("POST",
          s"http://127.0.0.1:$port/vector_db/libraries/batchlib/search_batch",
          s"""{"query_embeddings": $qjson, "k": 3, "index": "lsh"}""")
        assert(r.statusCode() == 200, s"batch search failed: ${r.body()}")
        val results = mapper.readTree(r.body()).get("results")
        assert(results.size() == 3)
        // one plan per batch: the broadcast bucket probe, never a cross join
        val plan = bridge.lastBatchPlan.getOrElse(fail("no batch plan recorded"))
        assert(plan.contains("bucket_part") && !plan.contains("CartesianProduct"),
          s"batch must serve through the broadcast bucket probe:\n${plan.take(1500)}")
        // per-request envelope identical to the single-search route
        qs.zipWithIndex.foreach { case (qv, i) =>
          val single = req("POST",
            s"http://127.0.0.1:$port/vector_db/libraries/batchlib/search",
            s"""{"query_embedding": ${qv.map(_.toString).mkString("[", ",", "]")}, "k": 3, "index": "lsh"}""")
          val sj = mapper.readTree(single.body())
          val bj = results.get(i)
          def ids(n: com.fasterxml.jackson.databind.JsonNode): Seq[String] = {
            val it = n.get("hits").elements()
            Iterator.continually(it).takeWhile(_.hasNext)
              .map(_.next().get("chunk_id").asText()).toSeq
          }
          // NOTE near-tie tolerance: the single route tie-breaks on the
          // string chunk id, the batch serve on the hashed node id —
          // identical SETS prove the same candidates and scores
          assert(ids(bj).toSet == ids(sj).toSet,
            s"request $i: batch ${ids(bj)} != single ${ids(sj)}")
          assert(bj.get("index_used").asText() == "lsh_at_rest")
          assert(sj.get("index_used").asText() == "lsh_at_rest")
          assert(bj.get("library_version").asInt() == sj.get("library_version").asInt())
        }
        // FILTERED batch: the guaranteeK registration rewrites the
        // filtered declaration to the batched LADDER — one plan decides
        // every request's escalation; per-request index_used reports
        // the served level, and hits match the single filtered route
        val fr = req("POST",
          s"http://127.0.0.1:$port/vector_db/libraries/batchlib/search_batch",
          s"""{"query_embeddings": $qjson, "k": 3, "index": "lsh", "filters": {"grp": "a"}}""")
        assert(fr.statusCode() == 200, s"filtered batch failed: ${fr.body()}")
        val fResults = mapper.readTree(fr.body()).get("results")
        assert(fResults.size() == 3)
        val ladderPlan = bridge.lastBatchPlan.getOrElse(fail("no ladder batch plan"))
        assert(ladderPlan.contains("min_dist"),
          s"filtered batch must ride the batched ladder:\n${ladderPlan.take(1500)}")
        qs.zipWithIndex.foreach { case (qv, i) =>
          val single = req("POST",
            s"http://127.0.0.1:$port/vector_db/libraries/batchlib/search",
            s"""{"query_embedding": ${qv.map(_.toString).mkString("[", ",", "]")}, "k": 3, "index": "lsh", "filters": {"grp": "a"}}""")
          val sj = mapper.readTree(single.body())
          val bj = fResults.get(i)
          def ids(n: com.fasterxml.jackson.databind.JsonNode): Seq[String] = {
            val it = n.get("hits").elements()
            Iterator.continually(it).takeWhile(_.hasNext)
              .map(_.next().get("chunk_id").asText()).toSeq
          }
          assert(ids(bj).toSet == ids(sj).toSet,
            s"filtered request $i: batch ${ids(bj)} != single ${ids(sj)}")
          assert(bj.get("index_used").asText().startsWith("at_rest_"),
            s"got ${bj.get("index_used")}")
          assert(bj.get("index_used").asText() == sj.get("index_used").asText(),
            s"request $i levels differ: batch ${bj.get("index_used")} vs " +
              s"single ${sj.get("index_used")}")
        }

        // the IVF kind through the same endpoint: the registration (not
        // the bridge code) picks the batched physical serve — the
        // recorded plan must carry the centroid probe, never the
        // declared cross join
        bridge.registerIvf(spark, engine, "batchlib", nprobe = 2, stride = 3L)
        val rIvf = req("POST",
          s"http://127.0.0.1:$port/vector_db/libraries/batchlib/search_batch",
          s"""{"query_embeddings": $qjson, "k": 3, "index": "lsh"}""")
        assert(rIvf.statusCode() == 200, s"IVF batch failed: ${rIvf.body()}")
        val ivfResults = mapper.readTree(rIvf.body()).get("results")
        assert(ivfResults.size() == 3)
        assert(ivfResults.get(0).get("index_used").asText() == "ivf_at_rest")
        val ivfPlan = bridge.lastBatchPlan.getOrElse(fail("no IVF batch plan"))
        assert(ivfPlan.contains("c_cid") && !ivfPlan.contains("CartesianProduct"),
          s"IVF batch must serve through the centroid probe:\n${ivfPlan.take(1500)}")

        // no bridge -> the fallback loop: same request shape, transient tier
        val apiPlain = new HttpApi(spark, engine, HashingEmbedder(dim = dim))
        val port2 = apiPlain.start()
        try {
          val r2 = req("POST",
            s"http://127.0.0.1:$port2/vector_db/libraries/batchlib/search_batch",
            s"""{"query_embeddings": $qjson, "k": 3, "index": "lsh"}""")
          assert(r2.statusCode() == 200, s"fallback batch failed: ${r2.body()}")
          val res2 = mapper.readTree(r2.body()).get("results")
          assert(res2.size() == 3)
          assert(res2.get(0).get("index_used").asText() != "lsh_at_rest")
        } finally apiPlain.stop()
      } finally api.stop()
    } finally graft.plans.LshProbeRewrite.clear()
  }
}
