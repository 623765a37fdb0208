package graft

import java.time.Instant
import graft.embed.{FailingEmbedder, HashingEmbedder}
import graft.state._
import org.scalatest.funsuite.AnyFunSuite

/** Port of the reference's 39 CRUD tests (tests/test_crud.py) against
  * the Engine: 404/400 become NotFoundError/BadRequestError, HTTP
  * payload shapes become method arguments. Grouped as the reference
  * groups them (libraries 10, documents 13, chunks 15, integration 1).
  */
class EngineSpec extends AnyFunSuite {

  private def tickingEngine(): (Engine, () => Instant) = {
    var t = 0L
    val clock = () => { t += 1; Instant.ofEpochSecond(t) }
    (new Engine(clock), clock)
  }

  // ---- libraries (10) ----

  test("create library minimal: defaults filled, version 0") {
    val e = new Engine()
    val lib = e.createLibrary("Test Library")
    assert(lib.name == "Test Library" && lib.version == 0)
    assert(lib.description.isEmpty && lib.tags.isEmpty && lib.id.nonEmpty)
  }

  test("create library full") {
    val e = new Engine()
    val lib = e.createLibrary("Full Library", Some("A complete library"), Some("test,demo"))
    assert(lib.description.contains("A complete library") && lib.tags.contains("test,demo"))
  }

  test("list libraries") {
    val e = new Engine()
    e.createLibrary("a"); e.createLibrary("b")
    assert(e.listLibraries().map(_.name) == Vector("a", "b"))
  }

  test("get library") {
    val e = new Engine()
    val lib = e.createLibrary("x")
    assert(e.getLibrary(lib.id).name == "x")
  }

  test("get missing library -> NotFound (404)") {
    intercept[NotFoundError](new Engine().getLibrary("nope"))
  }

  test("update library: fields overwritten, tags merged, version bumped, created_at preserved") {
    val (e, _) = tickingEngine()
    val lib = e.createLibrary("Old", Some("old desc"), Some("t0"))
    val up = e.updateLibrary(lib.id, "Updated Name", Some("Updated description"), Some("updated"))
    assert(up.name == "Updated Name" && up.description.contains("Updated description"))
    assert(up.tags.contains("updated") && up.version == 1)
    assert(up.created_at == lib.created_at && up.updated_at.isAfter(lib.updated_at))
    // description is overwrite semantics: None clears it (library_repo.py:56-75);
    // tags merge: absent tags keep the previous value
    val cleared = e.updateLibrary(lib.id, "Updated Name", None, None)
    assert(cleared.description.isEmpty && cleared.tags.contains("updated"))
    assert(cleared.version == 2)
  }

  test("update library without name -> BadRequest (400, libraries.py:31-40)") {
    val e = new Engine()
    val lib = e.createLibrary("x")
    intercept[BadRequestError](e.updateLibrary(lib.id, "", None, None))
  }

  test("update missing library -> NotFound") {
    intercept[NotFoundError](new Engine().updateLibrary("nope", "n", None, None))
  }

  test("delete library and verify gone") {
    val e = new Engine()
    val lib = e.createLibrary("x")
    assert(e.deleteLibrary(lib.id))
    intercept[NotFoundError](e.getLibrary(lib.id))
  }

  test("delete missing library -> false (404 at route level)") {
    assert(!new Engine().deleteLibrary("nope"))
  }

  // ---- documents (13) ----

  private def withLib(): (Engine, String) = {
    val e = new Engine()
    (e, e.createLibrary("fixture").id)
  }

  test("create document minimal") {
    val (e, lib) = withLib()
    val d = e.addDocument(lib, "Test Document")
    assert(d.title == "Test Document" && d.category.isEmpty && d.library_id == lib)
  }

  test("create document full") {
    val (e, lib) = withLib()
    val d = e.addDocument(lib, "Full Document", Some("test"))
    assert(d.category.contains("test"))
  }

  test("create document in missing library -> NotFound") {
    val (e, _) = withLib()
    intercept[NotFoundError](e.addDocument("nope", "t"))
  }

  test("list documents") {
    val (e, lib) = withLib()
    e.addDocument(lib, "a"); e.addDocument(lib, "b")
    assert(e.listDocuments(lib).map(_.title) == Vector("a", "b"))
  }

  test("list documents of missing library -> NotFound") {
    intercept[NotFoundError](new Engine().listDocuments("nope"))
  }

  test("get document") {
    val (e, lib) = withLib()
    val d = e.addDocument(lib, "a")
    assert(e.getDocument(lib, d.id).title == "a")
  }

  test("get missing document -> NotFound") {
    val (e, lib) = withLib()
    intercept[NotFoundError](e.getDocument(lib, "nope"))
  }

  test("update document title only (whitelist, document_repo.py:65-87)") {
    val (e, lib) = withLib()
    val d = e.addDocument(lib, "a", Some("cat"))
    val up = e.updateDocument(lib, d.id, Some("new title"), None)
    assert(up.title == "new title" && up.category.contains("cat"))
  }

  test("update document metadata/category only") {
    val (e, lib) = withLib()
    val d = e.addDocument(lib, "a")
    val up = e.updateDocument(lib, d.id, None, Some("newcat"))
    assert(up.title == "a" && up.category.contains("newcat"))
  }

  test("update document with empty body -> BadRequest (documents.py:51-52)") {
    val (e, lib) = withLib()
    val d = e.addDocument(lib, "a")
    intercept[BadRequestError](e.updateDocument(lib, d.id, None, None))
  }

  test("update missing document -> NotFound") {
    val (e, lib) = withLib()
    intercept[NotFoundError](e.updateDocument(lib, "nope", Some("t"), None))
  }

  test("delete document cascades chunks and verify gone") {
    val (e, lib) = withLib()
    val d = e.addDocument(lib, "a")
    e.addChunk(lib, d.id, "c1")
    assert(e.deleteDocument(lib, d.id))
    intercept[NotFoundError](e.getDocument(lib, d.id))
    assert(e.state.chunks.isEmpty)
  }

  test("delete missing document -> false") {
    val (e, lib) = withLib()
    assert(!e.deleteDocument(lib, "nope"))
  }

  // ---- chunks (15) ----

  private def withLibDoc(): (Engine, String, String) = {
    val e = new Engine()
    val lib = e.createLibrary("fixture").id
    val doc = e.addDocument(lib, "doc").id
    (e, lib, doc)
  }

  test("create chunk minimal: NULL embedding allowed") {
    val (e, lib, doc) = withLibDoc()
    val c = e.addChunk(lib, doc, "This is a test chunk")
    assert(c.text == "This is a test chunk" && c.embedding.isEmpty)
  }

  test("create chunk with embedding") {
    val (e, lib, doc) = withLibDoc()
    val c = e.addChunk(lib, doc, "Chunk with embedding", Some(Array(0.1f, 0.2f, 0.3f, 0.4f)))
    assert(c.embedding.get.length == 4)
  }

  test("create chunk full with metadata type") {
    val (e, lib, doc) = withLibDoc()
    val c = e.addChunk(lib, doc, "Full chunk", Some(Array(0.5f, 0.6f)), Map("type" -> "paragraph"))
    assert(c.metadata("type") == "paragraph")
  }

  test("create chunk in missing library -> NotFound") {
    val (e, _, doc) = withLibDoc()
    intercept[NotFoundError](e.addChunk("nope", doc, "t"))
  }

  test("create chunk in missing document -> NotFound") {
    val (e, lib, _) = withLibDoc()
    intercept[NotFoundError](e.addChunk(lib, "nope", "t"))
  }

  test("list chunks") {
    val (e, lib, doc) = withLibDoc()
    e.addChunk(lib, doc, "a"); e.addChunk(lib, doc, "b")
    assert(e.listChunks(lib, doc).map(_.text) == Vector("a", "b"))
  }

  test("list chunks of missing library -> NotFound") {
    val (e, _, doc) = withLibDoc()
    intercept[NotFoundError](e.listChunks("nope", doc))
  }

  test("list chunks of missing document -> NotFound") {
    val (e, lib, _) = withLibDoc()
    intercept[NotFoundError](e.listChunks(lib, "nope"))
  }

  test("update chunk text (re-embeds via embedder, chunk_service.py:23-48)") {
    val (e, lib, doc) = withLibDoc()
    val c = e.addChunk(lib, doc, "old", Some(Array(1f, 0f)))
    val emb = HashingEmbedder(dim = 2)
    val up = e.updateChunk(lib, doc, c.id, text = Some("new text"), embedder = Some(emb))
    assert(up.text == "new text")
    assert(up.embedding.get.toSeq == emb.embed("new text").toSeq)
  }

  test("update chunk text with failing embedder keeps old embedding (chunk_service.py:38-45)") {
    val (e, lib, doc) = withLibDoc()
    val c = e.addChunk(lib, doc, "old", Some(Array(1f, 0f)))
    val up = e.updateChunk(lib, doc, c.id, text = Some("new"), embedder = Some(FailingEmbedder))
    assert(up.text == "new" && up.embedding.get.toSeq == Seq(1f, 0f))
  }

  test("update chunk text: an interrupted embedder propagates and leaves the chunk unchanged") {
    val (e, lib, doc) = withLibDoc()
    val c = e.addChunk(lib, doc, "old", Some(Array(1f, 0f)))
    val version = e.getLibrary(lib).version
    val interrupted = new graft.embed.Embedder {
      def dim: Int = 2
      def embed(text: String): Array[Float] = throw new InterruptedException("shutting down")
    }
    intercept[InterruptedException](
      e.updateChunk(lib, doc, c.id, text = Some("new"), embedder = Some(interrupted)))
    val kept = e.listChunks(lib, doc).find(_.id == c.id).get
    assert(kept.text == "old" && kept.embedding.get.toSeq == Seq(1f, 0f))
    assert(e.getLibrary(lib).version == version)
  }

  test("update chunk embedding only") {
    val (e, lib, doc) = withLibDoc()
    val c = e.addChunk(lib, doc, "t", Some(Array(1f, 0f)))
    val up = e.updateChunk(lib, doc, c.id, embedding = Some(Array(0f, 1f)))
    assert(up.embedding.get.toSeq == Seq(0f, 1f) && up.text == "t")
  }

  test("update chunk metadata type only (whitelist, chunk_repo.py:64-98)") {
    val (e, lib, doc) = withLibDoc()
    val c = e.addChunk(lib, doc, "t", metadata = Map("type" -> "heading", "extra" -> "kept"))
    val up = e.updateChunk(lib, doc, c.id, metaType = Some("list"))
    assert(up.metadata("type") == "list" && up.metadata("extra") == "kept")
  }

  test("update chunk with empty body -> BadRequest (chunks.py:53-54)") {
    val (e, lib, doc) = withLibDoc()
    val c = e.addChunk(lib, doc, "t")
    intercept[BadRequestError](e.updateChunk(lib, doc, c.id))
  }

  test("update missing chunk -> NotFound") {
    val (e, lib, doc) = withLibDoc()
    intercept[NotFoundError](e.updateChunk(lib, doc, "nope", text = Some("x")))
  }

  test("delete chunk and verify gone; delete missing -> false") {
    val (e, lib, doc) = withLibDoc()
    val c = e.addChunk(lib, doc, "t")
    assert(e.deleteChunk(lib, doc, c.id))
    assert(e.listChunks(lib, doc).isEmpty)
    assert(!e.deleteChunk(lib, doc, c.id))
  }

  // ---- version / timestamp propagation (library_repo.py:74 etc.) ----

  test("every mutation bumps library version; chunk writes touch the document too") {
    val (e, _) = tickingEngine()
    val lib = e.createLibrary("v").id
    assert(e.getLibrary(lib).version == 0)
    val doc = e.addDocument(lib, "d").id // +1
    assert(e.getLibrary(lib).version == 1)
    val docUpdatedAt0 = e.getDocument(lib, doc).updated_at
    val c = e.addChunk(lib, doc, "c").id // +1, touches doc
    assert(e.getLibrary(lib).version == 2)
    assert(e.getDocument(lib, doc).updated_at.isAfter(docUpdatedAt0))
    e.updateChunk(lib, doc, c, text = Some("c2")) // +1
    e.deleteChunk(lib, doc, c) // +1
    e.updateDocument(lib, doc, Some("d2"), None) // +1
    e.deleteDocument(lib, doc) // +1
    assert(e.getLibrary(lib).version == 6)
  }

  // ---- integration (1, test_crud.py:573-650) ----

  test("full lifecycle: lib -> doc -> 2 chunks -> update -> cascade deletes -> 404") {
    val e = new Engine()
    val lib = e.createLibrary("Integration").id
    val doc = e.addDocument(lib, "Doc", Some("cat")).id
    val c1 = e.addChunk(lib, doc, "first", Some(Array(1f, 0f))).id
    e.addChunk(lib, doc, "second", Some(Array(0f, 1f)))
    assert(e.listChunks(lib, doc).size == 2)
    e.updateChunk(lib, doc, c1, text = Some("first updated"), embedding = Some(Array(1f, 1f)))
    assert(e.deleteChunk(lib, doc, c1))
    assert(e.listChunks(lib, doc).size == 1)
    assert(e.deleteDocument(lib, doc))
    assert(e.listDocuments(lib).isEmpty)
    assert(e.deleteLibrary(lib))
    intercept[NotFoundError](e.getLibrary(lib))
    assert(e.state.documents.isEmpty && e.state.chunks.isEmpty)
  }

  // ---- driver-state boundary guard ----

  test("chunk store past maxChunks fails with the typed capacity error, not an OOM") {
    val e = new Engine(maxChunks = 2)
    val lib = e.createLibrary("Small").id
    val doc = e.addDocument(lib, "Doc").id
    e.addChunk(lib, doc, "one")
    e.addChunk(lib, doc, "two")
    val cap = intercept[graft.state.EngineCapacityError] { e.addChunk(lib, doc, "three") }
    // the error must point the caller at the scale path, not just refuse
    assert(cap.getMessage.contains("parquet"))
    assert(cap.maxChunks == 2)
    // the store is untouched by the refused write
    assert(e.listChunks(lib, doc).size == 2)
    // deleting frees capacity: the guard bounds the store, not the API
    val victim = e.listChunks(lib, doc).head.id
    assert(e.deleteChunk(lib, doc, victim))
    e.addChunk(lib, doc, "three")
    assert(e.listChunks(lib, doc).size == 2)
  }
}
