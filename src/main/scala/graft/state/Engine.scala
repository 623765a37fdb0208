package graft.state

import java.time.Instant
import java.util.UUID
import java.util.concurrent.atomic.AtomicReference

import graft.embed.Embedder
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** Typed errors mirroring the reference's HTTP 404/400 split
  * (the app/api/routers modules). */
final case class NotFoundError(kind: String, id: String)
  extends RuntimeException(s"$kind $id not found")
final case class BadRequestError(msg: String) extends RuntimeException(msg)

/** Thrown when a CRUD write would grow the DRIVER-resident chunk store
  * past its configured bound. The CRUD surface mirrors the reference's
  * in-process store and is sized for entity metadata, not corpora; a
  * corpus-scale load through this API would otherwise die as an
  * unattributable driver OOM. The error names the escape hatch: bulk
  * corpora belong in parquet (graft.Tables / graft.index read them as
  * DataFrames at any scale).
  */
final case class EngineCapacityError(chunks: Int, maxChunks: Int)
  extends RuntimeException(
    s"chunk store at $chunks rows would exceed maxChunks=$maxChunks — the CRUD " +
      "engine keeps chunks on the driver (reference-parity surface). Load bulk " +
      "corpora as parquet (graft.Tables / graft.index operate on DataFrames), " +
      "enable spill mode (Engine(spill = Some(EngineSpill(...)))) to archive " +
      "overflow segments to parquet automatically, or raise maxChunks if " +
      "driver heap allows.")

/** Opt-in overflow mode: when the driver-resident chunk vector reaches
  * `maxChunks`, [[Engine.addChunk]] snapshots the WHOLE resident
  * segment to one parquet segment under `dir` and frees the heap —
  * the capacity guard's named escape hatch made automatic. Spilled
  * chunks stay fully searchable ([[Engine.chunksDF]] serves
  * spilled ∪ resident, so [[graft.search.SearchService]] and the SQL
  * views see one store) and respect cascade deletes (spilled rows are
  * served only while their (library, document) parents are live — the
  * liveness join below — so a library/document delete hides them
  * without a parquet rewrite; a compaction pass may garbage-collect
  * them later). The ARCHIVED tier is immutable: update/delete of a
  * spilled chunk is a BadRequestError naming this contract, mirroring
  * hot/cold storage tiers everywhere — mutate while resident, archive
  * when cold.
  */
final case class EngineSpill(spark: SparkSession, dir: String)

/** On-disk row of a spilled segment: the chunk plus its parent
  * document's `incarnation` nonce. Serving keys archived rows on
  * (library_id, document_id, doc_incarnation), so re-creating a
  * document (or library) under the same client-supplied id can never
  * resurrect cascade-deleted archived chunks — the new incarnation
  * carries a fresh nonce and the old rows simply stop matching (the
  * r12 review's resurrection catch). An opaque nonce rather than the
  * document's created_at: a created_at key silently collided when a
  * delete + re-create landed inside one clock granule, and forced a
  * micros-truncation contract between parquet timestamps and driver
  * Instants (the r13 review catch) — a UUID has neither failure mode.
  */
private[state] final case class SpilledChunkRow(
    library_id: String, document_id: String, id: String, text: String,
    embedding: Option[Array[Float]], metadata: Map[String, String],
    created_at: Instant, updated_at: Instant, doc_incarnation: String) {
  def toChunk: ChunkRow = ChunkRow(library_id, document_id, id, text,
    embedding, metadata, created_at, updated_at)
}

/** Entity rows (SURVEY §1.4 schema mapping). `incarnation` is an
  * engine-internal nonce distinguishing same-id re-creations: on a
  * document it keys archived rows (see [[SpilledChunkRow]]), on a
  * library it keys per-version caches ([[graft.index.IndexCache]]), so
  * a deleted library re-created under its old id and written back to
  * its old version count never serves the deleted library's chunks. It
  * rides along in the DataFrame views but is never part of the
  * reference-parity API surface (HttpApi serializes explicit fields).
  */
final case class LibraryRow(id: String, name: String, description: Option[String],
                            tags: Option[String], version: Int,
                            created_at: Instant, updated_at: Instant,
                            incarnation: String = "")
final case class DocumentRow(library_id: String, id: String, title: String,
                             category: Option[String],
                             created_at: Instant, updated_at: Instant,
                             incarnation: String = "")
final case class ChunkRow(library_id: String, document_id: String, id: String,
                          text: String, embedding: Option[Array[Float]],
                          metadata: Map[String, String],
                          created_at: Instant, updated_at: Instant)

/** One immutable snapshot of the whole store. Replaces the reference's
  * readers-writer locks + deepcopy-on-read
  * (app/concurrency/read_write_lock.py:5-45, library_repo.py:45):
  * readers grab the current snapshot (always consistent), the single
  * writer CAS-swaps a new one. Entity metadata is tiny by construction
  * (the 100 TB axis is the chunk *corpus*, which the query operators
  * consume as parquet-backed DataFrames — see [[graft.index]]); keeping
  * dimensions on the driver and exposing them as DataFrames is the
  * SURVEY §7.4 "rebuild from collected driver state" design.
  */
/** `spillSegments` lists the parquet segment directories of the
  * archived tier AS OF this snapshot — carrying it here (instead of a
  * flag plus a directory listing at read time) is what makes every
  * reader's (resident, archived) pair consistent under concurrent
  * spills. */
final case class EngineState(libraries: Vector[LibraryRow],
                             documents: Vector[DocumentRow],
                             chunks: Vector[ChunkRow],
                             spillSegments: Vector[String] = Vector.empty) {
  /** O(1) resident-chunk lookup keyed on the FULL address triple (a
    * chunk id under the wrong document must read as absent — the
    * reference's 404 contract). LAZY and per-snapshot: the map is a
    * pure derivation of `chunks`, built on first lookup after a
    * mutation publishes a new snapshot and shared by every reader of
    * that snapshot — so it can never go stale, and the ~20 mutation
    * sites that rebuild `chunks` need no bookkeeping. Cost shape
    * (r14 verdict #6, the SpillScaleProbe catch): the definite-miss
    * probe under the write lock was a 23 ms LINEAR scan of the 200k
    * resident rows per call; now the first lookup after a mutation
    * pays one O(n) build and every subsequent lookup on that snapshot
    * is a hash probe — a read-heavy phase amortizes the build to
    * ~zero, and a write-heavy phase pays what the old linear scan paid
    * per probe anyway. */
  @transient lazy val chunkByKey: Map[(String, String, String), ChunkRow] =
    chunks.iterator.map(c => ((c.library_id, c.document_id, c.id), c)).toMap

  def library(libId: String): LibraryRow =
    libraries.find(_.id == libId).getOrElse(throw NotFoundError("library", libId))
}

object EngineState {
  val empty: EngineState = EngineState(Vector.empty, Vector.empty, Vector.empty)
}

/** CRUD engine with the reference's exact mutation semantics
  * (O16–O22 in SURVEY §2.1):
  *  - `Library.version` is a monotonic write counter bumped by EVERY
  *    mutation inside the library (doc add/update/delete, chunk
  *    add/update/delete, library update) — library_repo.py:74,
  *    document_repo.py:38,61,85, chunk_repo.py:43,60,96;
  *  - updates whitelist fields (doc: title + category; chunk: text +
  *    embedding + metadata.type) — document_repo.py:65-87,
  *    chunk_repo.py:64-98;
  *  - chunk writes bump the parent document's updated_at too
  *    (chunk_repo.py:41-43);
  *  - deletes cascade through containment (library_repo.py:77-83);
  *  - updating chunk text without a new embedding re-embeds, and ANY
  *    embedder failure leaves the old embedding in place
  *    (chunk_service.py:38-45);
  *  - empty update bodies are BadRequest (routers 400s), unknown ids
  *    NotFound (404s).
  */
final class Engine(clock: () => Instant = () => Instant.now(),
                   newId: () => String = () => UUID.randomUUID().toString,
                   maxChunks: Int = Engine.DefaultMaxChunks,
                   spill: Option[EngineSpill] = None) {

  private val ref = new AtomicReference[EngineState](EngineState.empty)

  /** Monotonic suffix for spill-segment directory names. Each spill
    * (and each compaction) writes a NEW directory under the spill root;
    * the set of live segment paths travels INSIDE [[EngineState]], so a
    * reader capturing one snapshot gets a consistent (resident chunks,
    * archived segments) pair — the r13 review's double-serve catch: a
    * spill landing between "capture resident" and "list the spill dir"
    * served the moved segment from both tiers. */
  private val segSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  // Seed past any seg-* directories already under the spill root: a new
  // Engine pointed at a previously-used dir would otherwise fail its
  // FIRST spill on mode("errorifexists") against a leftover seg-000000
  // (r13 ADVICE). Pre-existing segments are NOT adopted — they belong to
  // a dead engine's state and are never served or reclaimed here; the
  // seed only guarantees fresh names never collide with them.
  spill.foreach { sp =>
    val existing = Option(new java.io.File(sp.dir).listFiles()).getOrElse(Array.empty)
      .flatMap(f => "^seg-(\\d+)$".r.findFirstMatchIn(f.getName).map(_.group(1).toLong))
    if (existing.nonEmpty) segSeq.set(existing.max + 1)
  }

  /** One Bloom filter of chunk ids per spilled segment (driver-side,
    * ~1.2 MB per 1M-chunk segment at 1% fpp — bounded bookkeeping for
    * heap we freed). [[isSpilled]] runs INSIDE the write lock, so a
    * definite miss must not cost a distributed parquet scan while every
    * other writer stalls (the r12 review's lock-stall catch); the scan
    * runs only on a might-contain, i.e. a true archived hit or a 1%
    * false positive. Mutated and read under the write lock only.
    */
  private val spillBlooms =
    scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.util.sketch.BloomFilter]

  /** Snapshot `rows` as one immutable parquet segment in a fresh
    * directory under the spill root and return its path (called under
    * the write lock from addChunk; the caller publishes the path in the
    * next EngineState). Each row is stamped with its parent document's
    * incarnation nonce — see [[SpilledChunkRow]] for why.
    */
  private def spillSegment(sp: EngineSpill, s: EngineState,
                           rows: Vector[ChunkRow]): String = {
    import sp.spark.implicits._
    val docInc = s.documents.map(d => (d.library_id, d.id) -> d.incarnation).toMap
    val seg = new java.io.File(sp.dir,
      f"seg-${segSeq.getAndIncrement()}%06d").getAbsolutePath
    // id-SORTED segment (r15, the PqServeProbe lesson applied to the
    // archive): parquet skipping runs on per-row-group min/max stats,
    // and the probe ([[isSpilled]]) filters on `id` equality — over an
    // insertion-ordered segment every row group spans the whole id
    // range and nothing can be skipped, while the sorted layout gives
    // createDataset's partitions disjoint contiguous id ranges, so an
    // id probe prunes to at most one file per segment. Driver-side
    // sort of an already-resident Vector; the archive is a set, so
    // row order is free
    sp.spark.createDataset(rows.sortBy(_.id).map(c => SpilledChunkRow(
        c.library_id, c.document_id, c.id, c.text, c.embedding, c.metadata,
        c.created_at, c.updated_at, docInc((c.library_id, c.document_id)))))
      .write.mode("errorifexists").parquet(seg)
    val bf = org.apache.spark.util.sketch.BloomFilter
      .create(math.max(rows.size.toLong, 1L), 0.01)
    rows.foreach(r => bf.putString(r.id))
    spillBlooms += bf
    seg
  }

  /** The archived tier OF ONE SNAPSHOT: exactly the segments that state
    * references, never "whatever is in the directory right now". */
  private def spilledChunks(spark: SparkSession, s: EngineState): Option[DataFrame] =
    if (spill.isEmpty || s.spillSegments.isEmpty) None
    else Some(spark.read.parquet(s.spillSegments: _*))

  /** Garbage-collect the spilled tier: rewrite the archive keeping only
    * rows whose (library, document, incarnation) parents still live,
    * and rebuild the Bloom filters from the survivors — cascade deletes
    * hide retired rows immediately (see chunksDF), but their bytes stay
    * on disk until this pass reclaims them. Returns
    * (rowsBefore, rowsAfter), or None when nothing has spilled.
    *
    * Runs under the write lock (no mutation can interleave). The swap
    * is failure-safe by construction: survivors land in a NEW segment
    * directory, the atomic step is publishing the new segment list in
    * EngineState (any failure before that leaves the old state serving
    * the old segments, blooms untouched), and only then are the old
    * segment directories deleted. Queries PLANNED against a pre-swap
    * snapshot and executed after the delete would read vanished paths —
    * quiesce readers first, the same contract every file-swap
    * compaction (e.g. a non-transactional parquet table rewrite)
    * carries.
    */
  def compactSpill(): Option[(Long, Long)] =
    spill.flatMap { sp =>
      writeLock.synchronized {
        import sp.spark.implicits._
        val s = ref.get()
        if (s.spillSegments.isEmpty) None
        else {
          val liveDocs = sp.spark.createDataset(s.documents
              .map(d => (d.library_id, d.id, d.incarnation)))
            .toDF("library_id", "document_id", "doc_incarnation")
          val all = sp.spark.read.parquet(s.spillSegments: _*)
          val before = all.count()
          // the rewrite stays DISTRIBUTED end to end — collecting the
          // survivors would pull the very rows spill mode exists to keep
          // off the driver heap; only the id stream (for the Bloom
          // rebuild) and the count come back
          val seg = new java.io.File(sp.dir,
            f"seg-${segSeq.getAndIncrement()}%06d").getAbsolutePath
          all.join(broadcast(liveDocs),
              Seq("library_id", "document_id", "doc_incarnation"), "left_semi")
            // keep the compacted archive id-sorted too (see
            // spillSegment): one extra exchange in a pass that already
            // rewrites every byte, bought back on every later id probe
            .sort(col("id"))
            .write.mode("errorifexists").parquet(seg)
          val compacted = sp.spark.read.parquet(seg)
          val after = compacted.count()
          if (after == 0) {
            ref.set(s.copy(spillSegments = Vector.empty))
            spillBlooms.clear()
            s.spillSegments.foreach(p => rmTree(new java.io.File(p)))
            rmTree(new java.io.File(seg))
          } else {
            // build the new Bloom BEFORE publishing, delete old segments
            // only AFTER — at every step the published state points at
            // directories that exist
            val bf = org.apache.spark.util.sketch.BloomFilter.create(after, 0.01)
            compacted.select(col("id")).as[String].toLocalIterator()
              .forEachRemaining(id => bf.putString(id))
            ref.set(s.copy(spillSegments = Vector(seg)))
            spillBlooms.clear()
            spillBlooms += bf
            s.spillSegments.foreach(p => rmTree(new java.io.File(p)))
          }
          Some((before, after))
        }
      }
    }

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) { val cs = f.listFiles(); if (cs != null) cs.foreach(rmTree) }
    f.delete()
  }

  /** Is `chunkId` archived in the spilled tier under the CURRENT
    * incarnation of its parent document? (Rare path: only probed after
    * a resident miss, to split immutable-archive from not-found; rows
    * of a deleted/re-created document are retired, not archived.) */
  private def isSpilled(libId: String, doc: DocumentRow, chunkId: String): Boolean =
    spill.exists { sp =>
      val s = ref.get()
      s.spillSegments.nonEmpty && spillBlooms.exists(_.mightContainString(chunkId)) && {
        import sp.spark.implicits._
        sp.spark.read.parquet(s.spillSegments: _*)
          .where(col("library_id") === libId && col("document_id") === doc.id &&
            col("id") === chunkId)
          .as[SpilledChunkRow].collect()
          .exists(_.doc_incarnation == doc.incarnation)
      }
    }

  def state: EngineState = ref.get()

  /** Single-writer mutation: writers serialize on a plain lock and
    * publish the new snapshot with one atomic set; readers stay
    * lock-free on `ref.get()`. A CAS-retry loop (updateAndGet) is
    * deliberately NOT used — mutation functions run side effects
    * (clock(), newId(), embedder.embed in updateChunk) that must
    * execute exactly once, and a contended CAS re-applies its function.
    */
  private val writeLock = new Object
  private def mutate[A](f: EngineState => (EngineState, A)): A = writeLock.synchronized {
    val (s2, a) = f(ref.get())
    ref.set(s2)
    a
  }

  private def requireLibrary(s: EngineState, libId: String): LibraryRow = s.library(libId)

  private def bumpLibrary(s: EngineState, libId: String, now: Instant): Vector[LibraryRow] =
    s.libraries.map(l => if (l.id == libId) l.copy(version = l.version + 1, updated_at = now) else l)

  private def touchDocument(docs: Vector[DocumentRow], docId: String, now: Instant): Vector[DocumentRow] =
    docs.map(d => if (d.id == docId) d.copy(updated_at = now) else d)

  // ---- libraries (O16-O19) ----

  def createLibrary(name: String, description: Option[String] = None,
                    tags: Option[String] = None, id: Option[String] = None): LibraryRow = mutate { s =>
    val now = clock()
    // incarnation nonce: see LibraryRow — never exposed on the API surface
    val row = LibraryRow(id.getOrElse(newId()), name, description, tags, 0, now, now,
      incarnation = newId())
    (s.copy(libraries = s.libraries :+ row), row)
  }

  def getLibrary(libId: String): LibraryRow = requireLibrary(state, libId)
  def listLibraries(): Vector[LibraryRow] = state.libraries

  /** name is required (routers/libraries.py:31-40 → 400 without it);
    * name/description are OVERWRITTEN (description=None clears it,
    * library_repo.py:56-75), while metadata is MERGED into the existing
    * dict — only the whitelisted `tags` key, since the reference's
    * open-dict merge 500s on unknown keys via extra="forbid".
    */
  def updateLibrary(libId: String, name: String, description: Option[String],
                    tags: Option[String]): LibraryRow = mutate { s =>
    if (name == null || name.isEmpty) throw BadRequestError("name is required")
    requireLibrary(s, libId)
    val now = clock()
    var updated: LibraryRow = null
    val libs = s.libraries.map { l =>
      if (l.id == libId) {
        updated = l.copy(name = name, description = description,
          tags = tags.orElse(l.tags), version = l.version + 1, updated_at = now)
        updated
      } else l
    }
    (s.copy(libraries = libs), updated)
  }

  def deleteLibrary(libId: String): Boolean = mutate { s =>
    if (!s.libraries.exists(_.id == libId)) (s, false)
    else (s.copy( // copy, not re-construct: spillSegments must survive
      libraries = s.libraries.filterNot(_.id == libId),
      documents = s.documents.filterNot(_.library_id == libId),
      chunks = s.chunks.filterNot(_.library_id == libId)), true)
  }

  // ---- documents (O20) ----

  def addDocument(libId: String, title: String, category: Option[String] = None,
                  id: Option[String] = None): DocumentRow = mutate { s =>
    requireLibrary(s, libId)
    val now = clock()
    // incarnation nonce: distinguishes this creation from any past or
    // future document under the same client-supplied id (see
    // SpilledChunkRow) — never exposed on the API surface
    val row = DocumentRow(libId, id.getOrElse(newId()), title, category, now, now,
      incarnation = newId())
    (s.copy(documents = s.documents :+ row, libraries = bumpLibrary(s, libId, now)), row)
  }

  def getDocument(libId: String, docId: String): DocumentRow = {
    val s = state
    requireLibrary(s, libId)
    s.documents.find(d => d.library_id == libId && d.id == docId)
      .getOrElse(throw NotFoundError("document", docId))
  }

  def listDocuments(libId: String): Vector[DocumentRow] = {
    val s = state
    requireLibrary(s, libId)
    s.documents.filter(_.library_id == libId)
  }

  def updateDocument(libId: String, docId: String, title: Option[String],
                     category: Option[String]): DocumentRow = mutate { s =>
    if (title.isEmpty && category.isEmpty)
      throw BadRequestError("update requires title or metadata")
    requireLibrary(s, libId)
    if (!s.documents.exists(d => d.library_id == libId && d.id == docId))
      throw NotFoundError("document", docId)
    val now = clock()
    var updated: DocumentRow = null
    val docs = s.documents.map { d =>
      if (d.library_id == libId && d.id == docId) {
        updated = d.copy(title = title.getOrElse(d.title),
          category = category.orElse(d.category), updated_at = now)
        updated
      } else d
    }
    (s.copy(documents = docs, libraries = bumpLibrary(s, libId, now)), updated)
  }

  def deleteDocument(libId: String, docId: String): Boolean = mutate { s =>
    if (!s.libraries.exists(_.id == libId)) throw NotFoundError("library", libId)
    if (!s.documents.exists(d => d.library_id == libId && d.id == docId)) (s, false)
    else {
      val now = clock()
      (s.copy(
        documents = s.documents.filterNot(d => d.library_id == libId && d.id == docId),
        chunks = s.chunks.filterNot(c => c.library_id == libId && c.document_id == docId),
        libraries = bumpLibrary(s, libId, now)), true)
    }
  }

  // ---- chunks (O21-O22) ----

  def addChunk(libId: String, docId: String, text: String,
               embedding: Option[Array[Float]] = None,
               metadata: Map[String, String] = Map.empty,
               id: Option[String] = None): ChunkRow = mutate { s =>
    requireLibrary(s, libId)
    if (!s.documents.exists(d => d.library_id == libId && d.id == docId))
      throw NotFoundError("document", docId)
    // loud boundary guard: the chunk Vector is the one driver structure
    // a user could grow without limit through the API (see
    // EngineCapacityError for the parquet escape hatch). In spill mode
    // the bound triggers an archive instead of an error: the resident
    // segment snapshots to parquet and the heap is freed.
    val (base, segs) =
      if (s.chunks.size < maxChunks) (s.chunks, s.spillSegments)
      else spill match {
        case None => throw EngineCapacityError(s.chunks.size, maxChunks)
        case Some(sp) =>
          // the new segment path is published WITH the emptied resident
          // vector in one atomic snapshot swap below — no reader can
          // observe the moved rows in both tiers
          (Vector.empty[ChunkRow], s.spillSegments :+ spillSegment(sp, s, s.chunks))
      }
    val now = clock()
    val row = ChunkRow(libId, docId, id.getOrElse(newId()), text, embedding, metadata, now, now)
    (s.copy(chunks = base :+ row, spillSegments = segs,
      documents = touchDocument(s.documents, docId, now),
      libraries = bumpLibrary(s, libId, now)), row)
  }

  def listChunks(libId: String, docId: String): Vector[ChunkRow] = {
    val s = state
    requireLibrary(s, libId)
    if (!s.documents.exists(d => d.library_id == libId && d.id == docId))
      throw NotFoundError("document", docId)
    val resident = s.chunks.filter(c => c.library_id == libId && c.document_id == docId)
    // segments and incarnation both come from the SAME snapshot `s` as
    // the resident slice — a concurrent spill publishes a new snapshot,
    // it can never make this one serve a row twice
    spill.flatMap(sp => spilledChunks(sp.spark, s).map((sp, _))).map { case (sp, archivedDf) =>
      import sp.spark.implicits._
      val docInc = s.documents
        .find(d => d.library_id == libId && d.id == docId).get.incarnation
      val archived = archivedDf
        .where(col("library_id") === libId && col("document_id") === docId)
        .as[SpilledChunkRow].collect().toVector
        .filter(_.doc_incarnation == docInc) // not a prior incarnation's rows
        .map(_.toChunk)
        .sortBy(c => (c.created_at, c.id)) // segments are older than resident
      archived ++ resident
    }.getOrElse(resident)
  }

  /** Whitelist update (text / embedding / metadata.type). When text
    * changes and no embedding is supplied, re-embed; embedder failures
    * leave the embedding unchanged (chunk_service.py:38-45).
    */
  def updateChunk(libId: String, docId: String, chunkId: String,
                  text: Option[String] = None,
                  embedding: Option[Array[Float]] = None,
                  metaType: Option[String] = None,
                  embedder: Option[Embedder] = None): ChunkRow = mutate { s =>
    if (text.isEmpty && embedding.isEmpty && metaType.isEmpty)
      throw BadRequestError("update requires text, embedding or metadata")
    requireLibrary(s, libId)
    val parentDoc = s.documents.find(d => d.library_id == libId && d.id == docId)
      .getOrElse(throw NotFoundError("document", docId))
    val existing = s.chunkByKey.get((libId, docId, chunkId))
      .getOrElse {
        if (isSpilled(libId, parentDoc, chunkId))
          throw BadRequestError(s"chunk $chunkId is archived in the spilled tier " +
            "(immutable) — spill mode mutates resident chunks only")
        throw NotFoundError("chunk", chunkId)
      }
    val now = clock()
    val textChanged = text.exists(_ != existing.text)
    val newEmbedding: Option[Array[Float]] =
      if (embedding.isDefined) embedding
      else if (textChanged) embedder.flatMap { e =>
        try Some(e.embed(text.get)) catch { case _: Throwable => None }
      }.orElse(existing.embedding)
      else existing.embedding
    var updated: ChunkRow = null
    val chunks = s.chunks.map { c =>
      if (c.library_id == libId && c.document_id == docId && c.id == chunkId) {
        updated = c.copy(text = text.getOrElse(c.text), embedding = newEmbedding,
          metadata = metaType.map(t => c.metadata + ("type" -> t)).getOrElse(c.metadata),
          updated_at = now)
        updated
      } else c
    }
    (s.copy(chunks = chunks,
      documents = touchDocument(s.documents, docId, now),
      libraries = bumpLibrary(s, libId, now)), updated)
  }

  def deleteChunk(libId: String, docId: String, chunkId: String): Boolean = mutate { s =>
    if (!s.libraries.exists(_.id == libId)) throw NotFoundError("library", libId)
    if (!s.chunkByKey.contains((libId, docId, chunkId))) {
      // probe the archive only while the parent document LIVES: a chunk
      // whose document was cascade-deleted is retired, not archived —
      // its bytes in the spill dir must read as plain absence
      val parentDoc = s.documents.find(d => d.library_id == libId && d.id == docId)
      if (parentDoc.exists(d => isSpilled(libId, d, chunkId)))
        throw BadRequestError(s"chunk $chunkId is archived in the spilled tier " +
          "(immutable) — delete its document or library to retire it")
      (s, false)
    }
    else {
      val now = clock()
      (s.copy(
        chunks = s.chunks.filterNot(c => c.library_id == libId && c.document_id == docId && c.id == chunkId),
        documents = touchDocument(s.documents, docId, now),
        libraries = bumpLibrary(s, libId, now)), true)
    }
  }

  // ---- DataFrame views ----

  def librariesDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.createDataset(state.libraries).toDF()
  }
  def documentsDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.createDataset(state.documents).toDF()
  }
  def chunksDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // ONE snapshot feeds resident rows, the archived segment list AND
    // the liveness side: resident/archived can't double-serve across a
    // concurrent spill, and liveness can't run ahead of the chunk view
    // (the r13 review's atomicity catch)
    val s = ref.get()
    val resident = spark.createDataset(s.chunks).toDF()
    Engine.liveArchived(spark, s).map(_.unionByName(resident)).getOrElse(resident)
  }
}

object Engine {
  /** The archived tier of `s` as [[ChunkRow]] columns, or None when
    * nothing has spilled. Cascade-delete correctness without parquet
    * rewrites: an archived row is served only while its (library,
    * document) parents are live — deleting either hides the rows
    * immediately (they stay as dead bytes until a compaction pass). The
    * liveness key includes the document's incarnation nonce, so
    * re-creating a document under the same id does NOT resurrect the
    * deleted incarnation's archived rows. The liveness side is the
    * driver-resident document metadata: tiny, so broadcast. */
  private[state] def liveArchived(spark: SparkSession, s: EngineState): Option[DataFrame] =
    if (s.spillSegments.isEmpty) None
    else {
      import spark.implicits._
      val live = spark.createDataset(s.documents).toDF()
        .select(col("library_id"), col("id").as("document_id"),
          col("incarnation").as("doc_incarnation"))
      Some(spark.read.parquet(s.spillSegments: _*)
        .join(broadcast(live),
          Seq("library_id", "document_id", "doc_incarnation"), "left_semi")
        .select(Encoders.product[ChunkRow].schema.fieldNames.toIndexedSeq.map(col): _*))
    }

  /** Default driver-store bound: ~1M chunks with 64-dim embeddings is
    * roughly 0.5-1 GiB of driver heap — comfortably inside the bench
    * JVM, far past the reference's workloads, and loud long before an
    * OOM. Raise per-instance via the constructor when the driver is
    * sized for it.
    */
  val DefaultMaxChunks: Int = 1000000
}
