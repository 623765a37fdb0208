package servebench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.embed.HashingEmbedder

/** One completed request: its class, when it ran, whether every check
  * passed, and for lsh searches the recall against the exact top-k. */
final case class Sample(cls: String, startNs: Long, endNs: Long, ok: Boolean,
                        recall: Option[Double] = None) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A closed-loop REST client of the engine's HTTP API. Every response is
  * checked against the corpus mirror: status codes, each hit re-scored
  * client-side, descending order, brute results equal to the exact
  * top-k, `library_version` equal to the mirror's write count, and a text
  * update's returned embedding equal to a fresh embedding of the text.
  * Writes update the mirror only once the server has acknowledged them. */
final class RestClient(port: Int, corpus: Corpus) {
  import RestClient._

  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val json = new ObjectMapper()
  private val base = s"http://127.0.0.1:$port/vector_db/libraries"

  /** Failure messages, for the run's diagnostics. */
  val failures: java.util.Queue[String] = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private def send(method: String, path: String, body: Option[JsonNode]): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(base + path)).header("Content-Type", "application/json")
    val pub = body.map(n => HttpRequest.BodyPublishers.ofString(json.writeValueAsString(n)))
      .getOrElse(HttpRequest.BodyPublishers.noBody())
    val resp = http.send(b.method(method, pub).build(), HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def floats(a: Array[Float]): JsonNode = {
    val arr = json.createArrayNode()
    a.foreach(x => arr.add(x))
    arr
  }

  private def readFloats(n: JsonNode): Array[Float] =
    if (n == null || !n.isArray) Array.empty else n.elements().asScala.map(_.floatValue()).toArray

  /** The query vector the server scores with. */
  def queryVector(q: SearchReq): Array[Float] = q.emb.getOrElse(Embed.embed(q.text.get))

  def searchBody(q: SearchReq): JsonNode = {
    val o = json.createObjectNode()
    q.emb.foreach(e => o.set[JsonNode]("query_embedding", floats(e)))
    q.text.foreach(o.put("query_text", _))
    o.put("k", K).put("index", q.index)
    q.tpe.foreach(t => o.putObject("filters").put("type", t))
    o
  }

  def run(req: Req): Sample = {
    val start = System.nanoTime()
    try req match {
      case q: SearchReq =>
        val (status, body) = send("POST", s"/${q.lib}/search", Some(searchBody(q)))
        val end = System.nanoTime()
        val (ok, recall) = checkSearch(q, status, body)
        Sample(q.cls, start, end, ok, recall)
      case a: AddReq =>
        val o = json.createObjectNode().put("text", a.text)
        o.set[JsonNode]("embedding", floats(a.emb))
        o.putObject("metadata").put("type", a.tpe)
        val (status, body) = send("POST", s"/${a.lib}/documents/${a.doc}/chunks", Some(o))
        val end = System.nanoTime()
        val id = if (status == 201) Option(json.readTree(body).get("id")).map(_.asText()) else None
        val ok = check(status == 201 && id.exists(_.nonEmpty), s"add: status $status")
        if (ok) corpus.add(new MChunk(a.lib, a.doc, id.get, a.text, a.emb, a.tpe))
        Sample(a.cls, start, end, ok)
      case u: UpdateReq =>
        val c = corpus.pick(u.lib, u.u)
        val (status, body) = send("PUT", s"/${u.lib}/documents/${c.doc}/chunks/${c.id}",
          Some(json.createObjectNode().put("text", u.text)))
        val end = System.nanoTime()
        val expected = if (u.text == c.text) c.emb else Embed.embed(u.text)
        val got = if (status == 200) readFloats(json.readTree(body).get("embedding")) else Array.empty[Float]
        val ok = check(status == 200, s"update: status $status") &&
          check(got.sameElements(expected), s"update: chunk ${c.id} was not re-embedded")
        if (status == 200) corpus.update(c, u.text, got)
        Sample(u.cls, start, end, ok)
      case d: DeleteReq =>
        val c = corpus.pick(d.lib, d.u)
        val (status, _) = send("DELETE", s"/${d.lib}/documents/${c.doc}/chunks/${c.id}", None)
        val end = System.nanoTime()
        val ok = check(status == 204, s"delete: status $status")
        if (ok) corpus.delete(c)
        Sample(d.cls, start, end, ok)
    } catch {
      case e: Exception =>
        check(false, s"${req.cls}: $e")
        Sample(req.cls, start, System.nanoTime(), ok = false)
    }
  }

  private def check(cond: Boolean, msg: => String): Boolean = {
    if (!cond && failures.size < 20) failures.add(msg)
    cond
  }

  private def checkSearch(q: SearchReq, status: Int, body: String): (Boolean, Option[Double]) = {
    if (!check(status == 200, s"${q.cls}: status $status ${body.take(200)}")) return (false, None)
    val node = json.readTree(body)
    val qv = queryVector(q)
    val hits = node.get("hits").elements().asScala.toSeq
    val exact = corpus.exact(q.lib, qv, K, q.tpe)
    val version = node.get("library_version").asInt()
    var ok = check(version == corpus.version(q.lib),
      s"${q.cls}: library_version $version, mirror has ${corpus.version(q.lib)}")
    val scores = hits.map { h =>
      val id = h.get("chunk_id").asText()
      val score = h.get("score").asDouble()
      corpus.get(q.lib, id) match {
        case Some(c) =>
          ok &= check(q.tpe.forall(_ == c.tpe), s"${q.cls}: hit $id breaks the type filter")
          ok &= check(math.abs(Stats.cosine(qv, c.emb) - score) <= ScoreTol,
            s"${q.cls}: hit $id scored $score, client re-score ${Stats.cosine(qv, c.emb)}")
        case None => ok &= check(false, s"${q.cls}: hit $id is not in ${q.lib}")
      }
      score
    }
    ok &= check(scores.zip(scores.drop(1)).forall { case (a, b) => a >= b - ScoreTol },
      s"${q.cls}: hits not in descending score order")
    ok &= check(hits.size <= K, s"${q.cls}: ${hits.size} hits for k=$K")
    if (q.index == "brute")
      ok &= check(hits.size == exact.size && scores.zip(exact).forall { case (s, e) => math.abs(s - e._2) <= ScoreTol },
        s"${q.cls}: brute hits differ from the exact top-$K")
    val recall =
      if (q.index == "lsh") Some(Stats.recall(hits.map(_.get("chunk_id").asText()), exact.map(_._1))) else None
    (ok, recall)
  }
}

object RestClient {
  val K = 5
  val ScoreTol = 1e-5
}

/** The embedder the server is given, shared so the benchmark's own
  * re-embedding is the same function. */
object Embed {
  val embedder: HashingEmbedder = HashingEmbedder(Corpus.Dim)
  def embed(text: String): Array[Float] = embedder.embed(text)
}
