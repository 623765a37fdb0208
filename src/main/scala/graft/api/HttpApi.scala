package graft.api

import java.net.InetSocketAddress
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.embed.Embedder
import graft.search.{SearchResult, SearchService}
import graft.state.{BadRequestError, Engine, NotFoundError}
import org.apache.spark.sql.SparkSession

/** Thin HTTP layer mirroring the reference's REST surface
  * (app/api/routers — 15 CRUD/search routes under /vector_db, see
  * reference README.md:448-476), so a client of the reference can point
  * at this engine unchanged. Zero extra dependencies: JDK HttpServer +
  * the Jackson that ships with Spark.
  *
  * Status mapping follows the routers: 200/201/204 success, 400 for
  * validation errors (missing name, empty update body, bad search
  * input), 404 for unknown ids. The search envelope carries
  * hits/index/index_used/library_version/durable_execution exactly like
  * search.py:75-87 (index_used absent on early-exit paths).
  *
  * Handlers run on a fixed pool of daemon threads, one per core of the
  * session (`defaultParallelism`, the `n` of `local[n]`), so concurrent
  * requests overlap instead of queueing behind the JDK server's one
  * dispatcher thread. Handlers share only state that is safe under
  * concurrent readers: the `Engine` (an immutable `EngineState` behind
  * an `AtomicReference`, writes serialized on its write lock), the
  * `IndexCache` (one lock), the at-rest bridge and rule registries
  * (concurrent maps, generation leases) and the configured
  * `ObjectMapper`.
  *
  * `stop()` stops the server, then shuts the pool down and waits (at
  * most 30 s, then interrupts) for in-flight handlers, and only then
  * clears the cache: a search finishing after the clear would re-insert
  * a cached frame that nothing unpersists.
  */
final class HttpApi(spark: SparkSession, engine: Engine, embedder: Embedder,
                    atRest: Option[graft.search.AtRestIndexBridge] = None) {

  private val mapper = new ObjectMapper()
  private[graft] val indexCache = new graft.index.IndexCache()
  private val service = new SearchService(spark, engine, Some(embedder),
    indexCache = Some(indexCache), atRest = atRest)
  private var server: HttpServer = _
  private var pool: ExecutorService = _

  def start(port: Int = 0): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/vector_db", (ex: HttpExchange) => handle(ex))
    pool = Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism, (r: Runnable) => {
      val t = new Thread(r, "graft-http-handler")
      t.setDaemon(true)
      t
    })
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  /** Stop serving, drain the in-flight handlers, then release every
    * frame the API's cache holds. */
  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) {
      pool.shutdown()
      if (!pool.awaitTermination(30, TimeUnit.SECONDS)) pool.shutdownNow(): Unit
    }
    indexCache.clear()
  }

  private def respond(ex: HttpExchange, status: Int, body: Option[JsonNode]): Unit = {
    val bytes = body.map(b => mapper.writeValueAsBytes(b)).getOrElse(Array.empty[Byte])
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def error(msg: String): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("detail", msg)
    o
  }

  private def readBody(ex: HttpExchange): JsonNode = {
    val bytes = ex.getRequestBody.readAllBytes()
    if (bytes.isEmpty) mapper.createObjectNode() else mapper.readTree(bytes)
  }

  private def optField(n: JsonNode, field: String): Option[JsonNode] =
    Option(n.get(field)).filterNot(_.isNull)

  private def optText(n: JsonNode, field: String): Option[String] =
    optField(n, field).map(_.asText())

  private def metaField(n: JsonNode, key: String): Option[String] =
    optField(n, "metadata").flatMap(m => optText(m, key))

  private def floats(arr: JsonNode): Array[Float] =
    arr.elements().asScala.map(_.floatValue()).toArray

  /** The `filters` object as a string map; empty when absent. */
  private def filters(n: JsonNode): Map[String, String] =
    optField(n, "filters").fold(Map.empty[String, String])(
      _.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)

  /** Packs `res` into `o`: hits, index, index_used (absent on early
    * exits) and library_version. */
  private def putResult(o: ObjectNode, res: SearchResult): ObjectNode = {
    val hits = o.putArray("hits")
    res.hits.foreach { h =>
      val ho = hits.addObject()
      ho.put("chunk_id", h.chunk_id).put("document_id", h.document_id)
        .put("library_id", h.library_id).put("text", h.text).put("score", h.score)
      val hm = ho.putObject("metadata")
      h.metadata.foreach { case (k, v) => hm.put(k, v) }
    }
    o.put("index", res.index)
    res.indexUsed.foreach(o.put("index_used", _))
    o.put("library_version", res.libraryVersion)
  }

  private def libraryJson(l: graft.state.LibraryRow): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("id", l.id).put("name", l.name)
    l.description.foreach(o.put("description", _))
    o.put("version", l.version)
    val m = o.putObject("metadata")
    l.tags.foreach(m.put("tags", _))
    m.put("created_at", l.created_at.toString).put("updated_at", l.updated_at.toString)
    o
  }

  private def documentJson(d: graft.state.DocumentRow): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("id", d.id).put("title", d.title)
    val m = o.putObject("metadata")
    d.category.foreach(m.put("category", _))
    m.put("created_at", d.created_at.toString).put("updated_at", d.updated_at.toString)
    o
  }

  private def chunkJson(c: graft.state.ChunkRow): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("id", c.id).put("text", c.text)
    c.embedding.foreach { e =>
      val a = o.putArray("embedding")
      e.foreach(a.add(_))
    }
    val m = o.putObject("metadata")
    c.metadata.foreach { case (k, v) => m.put(k, v) }
    o
  }

  private def handle(ex: HttpExchange): Unit = {
    val method = ex.getRequestMethod
    val segs = ex.getRequestURI.getPath.stripPrefix("/").stripSuffix("/").split("/").toList
    try {
      (method, segs) match {
        // ---- libraries ----
        case ("POST", List("vector_db", "libraries")) =>
          val b = readBody(ex)
          optText(b, "name") match {
            case None => respond(ex, 400, Some(error("name is required")))
            case Some(name) =>
              val lib = engine.createLibrary(name, optText(b, "description"), metaField(b, "tags"))
              respond(ex, 201, Some(libraryJson(lib)))
          }
        case ("GET", List("vector_db", "libraries")) =>
          val a = mapper.createArrayNode()
          engine.listLibraries().foreach(l => a.add(libraryJson(l)))
          respond(ex, 200, Some(a))
        case ("GET", List("vector_db", "libraries", libId)) =>
          respond(ex, 200, Some(libraryJson(engine.getLibrary(libId))))
        case ("PUT", List("vector_db", "libraries", libId)) =>
          val b = readBody(ex)
          optText(b, "name") match {
            case None => respond(ex, 400, Some(error("name is required")))
            case Some(name) =>
              respond(ex, 200, Some(libraryJson(
                engine.updateLibrary(libId, name, optText(b, "description"), metaField(b, "tags")))))
          }
        case ("DELETE", List("vector_db", "libraries", libId)) =>
          if (engine.deleteLibrary(libId)) respond(ex, 204, None)
          else respond(ex, 404, Some(error("library not found")))

        // ---- documents ----
        case ("POST", List("vector_db", "libraries", libId, "documents")) =>
          val b = readBody(ex)
          optText(b, "title") match {
            case None => respond(ex, 400, Some(error("title is required")))
            case Some(title) =>
              respond(ex, 201, Some(documentJson(
                engine.addDocument(libId, title, metaField(b, "category")))))
          }
        case ("GET", List("vector_db", "libraries", libId, "documents")) =>
          val a = mapper.createArrayNode()
          engine.listDocuments(libId).foreach(d => a.add(documentJson(d)))
          respond(ex, 200, Some(a))
        case ("GET", List("vector_db", "libraries", libId, "documents", docId)) =>
          respond(ex, 200, Some(documentJson(engine.getDocument(libId, docId))))
        case ("PUT", List("vector_db", "libraries", libId, "documents", docId)) =>
          val b = readBody(ex)
          respond(ex, 200, Some(documentJson(
            engine.updateDocument(libId, docId, optText(b, "title"), metaField(b, "category")))))
        case ("DELETE", List("vector_db", "libraries", libId, "documents", docId)) =>
          if (engine.deleteDocument(libId, docId)) respond(ex, 204, None)
          else respond(ex, 404, Some(error("document not found")))

        // ---- chunks (no single-chunk GET, mirroring chunks.py) ----
        case ("POST", List("vector_db", "libraries", libId, "documents", docId, "chunks")) =>
          val b = readBody(ex)
          optText(b, "text") match {
            case None => respond(ex, 400, Some(error("text is required")))
            case Some(text) =>
              val emb = optField(b, "embedding").map(floats)
              val meta = metaField(b, "type").map(t => Map("type" -> t)).getOrElse(Map.empty[String, String])
              respond(ex, 201, Some(chunkJson(engine.addChunk(libId, docId, text, emb, meta))))
          }
        case ("GET", List("vector_db", "libraries", libId, "documents", docId, "chunks")) =>
          val a = mapper.createArrayNode()
          engine.listChunks(libId, docId).foreach(c => a.add(chunkJson(c)))
          respond(ex, 200, Some(a))
        case ("PUT", List("vector_db", "libraries", libId, "documents", docId, "chunks", chunkId)) =>
          val b = readBody(ex)
          val emb = optField(b, "embedding").map(floats)
          respond(ex, 200, Some(chunkJson(engine.updateChunk(libId, docId, chunkId,
            optText(b, "text"), emb, metaField(b, "type"), Some(embedder)))))
        case ("DELETE", List("vector_db", "libraries", libId, "documents", docId, "chunks", chunkId)) =>
          if (engine.deleteChunk(libId, docId, chunkId)) respond(ex, 204, None)
          else respond(ex, 404, Some(error("chunk not found")))

        // ---- search ----
        case ("POST", List("vector_db", "libraries", libId, "search")) =>
          val b = readBody(ex)
          val qText = optText(b, "query_text")
          val qEmb = optField(b, "query_embedding").map(floats)
          if (qText.isEmpty && qEmb.isEmpty)
            respond(ex, 400, Some(error("query_text or query_embedding required")))
          else {
            val res = service.search(libId,
              queryText = qText, queryEmbedding = qEmb,
              k = Option(b.get("k")).map(_.asInt()).getOrElse(5),
              index = optText(b, "index").getOrElse("brute"),
              lshTables = Option(b.get("lsh_tables")).map(_.asInt()).getOrElse(8),
              lshPlanes = Option(b.get("lsh_planes")).map(_.asInt()).getOrElse(12),
              filters = filters(b))
            val o = putResult(mapper.createObjectNode(), res)
            o.put("durable_execution", false)
            respond(ex, 200, Some(o))
          }

        // batched search (r17 stretch): the whole request set answered
        // by ONE plan when the library serves from the at-rest tier —
        // per-request envelopes identical to the single-search route
        case ("POST", List("vector_db", "libraries", libId, "search_batch")) =>
          val b = readBody(ex)
          val qEmbs = optField(b, "query_embeddings")
            .fold(Seq.empty[Array[Float]])(_.elements().asScala.map(floats).toSeq)
          if (qEmbs.isEmpty)
            respond(ex, 400, Some(error("query_embeddings (non-empty) required")))
          else {
            val results = service.searchBatch(libId, qEmbs,
              k = Option(b.get("k")).map(_.asInt()).getOrElse(5),
              index = optText(b, "index").getOrElse("brute"),
              filters = filters(b))
            val o = mapper.createObjectNode()
            val arr = o.putArray("results")
            results.foreach(res => putResult(arr.addObject(), res))
            respond(ex, 200, Some(o))
          }

        case _ => respond(ex, 404, Some(error("no such route")))
      }
    } catch {
      case NotFoundError(kind, id) => respond(ex, 404, Some(error(s"$kind $id not found")))
      case BadRequestError(msg) => respond(ex, 400, Some(error(msg)))
      // capacity is the CALLER's pushback signal (load parquet instead),
      // not an internal fault — 413, with the guidance in the body
      case e: graft.state.EngineCapacityError => respond(ex, 413, Some(error(e.getMessage)))
      case e: IllegalArgumentException => respond(ex, 400, Some(error(e.getMessage)))
      case e: Throwable => respond(ex, 500, Some(error(e.toString)))
    }
  }
}
