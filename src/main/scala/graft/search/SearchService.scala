package graft.search

import graft.embed.Embedder
import graft.functions.VectorFunctions
import graft.index.{BruteForceKnn, IndexCache, RandomHyperplaneLsh}
import graft.state.{Engine, LibrarySnapshot}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One search hit (reference result packing O13,
  * app/services/search_service.py:136-148). */
final case class Hit(chunk_id: String, document_id: String, library_id: String,
                     text: String, metadata: Map[String, String], score: Double)

/** Search envelope (search_service.py:150-156). `indexUsed` is absent
  * (None) on the two early-exit paths (k<=0 and empty-after-filter),
  * exactly like the reference omits the `index_used` key there.
  */
final case class SearchResult(hits: Seq[Hit], index: String,
                              indexUsed: Option[String], libraryVersion: Int)

/** The search orchestrator (O12, search_service.py:83-156):
  * scan+flatten → metadata filter → query-vector derivation → index
  * dispatch (brute | lsh with adaptive fallback) → pack.
  *
  * Each query reads ONE [[LibrarySnapshot]] of the library: the
  * reported `library_version`, the rows and the corpus dim all come
  * from it, so a concurrent write cannot pair one version with another
  * version's rows. With an [[IndexCache]] the snapshot is the cached
  * entry for (library, incarnation, version); without one it is built
  * per query by the same builder, uncached.
  *
  * The DataFrame plan per query is: the snapshot frame (an
  * `InMemoryRelation` at a cached version) → metadata conjunction →
  * score → TakeOrderedAndProject(k): one Spark job. The empty-after-
  * filter check and the dim probe are answered on the driver from the
  * snapshot's rows, not by a job, and nothing re-encodes the store.
  * The snapshot's rows reach the executors as one broadcast per
  * snapshot, so the query's tasks carry slice indices, not rows.
  */
final class SearchService(spark: SparkSession, engine: Engine,
                          embedder: Option[Embedder] = None,
                          rerank: DataFrame => DataFrame = identity,
                          indexCache: Option[IndexCache] = None,
                          atRest: Option[AtRestIndexBridge] = None) {

  def search(libraryId: String,
             queryText: Option[String] = None,
             queryEmbedding: Option[Array[Float]] = None,
             k: Int = 5,
             index: String = "brute",
             lshTables: Int = 8,
             lshPlanes: Int = 12,
             filters: Map[String, String] = Map.empty): SearchResult = {
    // validated before any work, whatever serves the query: an at-rest
    // library never reads these planes
    val lsh = RandomHyperplaneLsh(lshTables, lshPlanes)
    val snap = snapshot(libraryId)
    val version = snap.version

    if (k <= 0) return SearchResult(Nil, index, None, version)

    // O1 scan+flatten: chunks of this library with a non-null embedding
    // (search_service.py:43-46), then O2 conjunctive exact-match
    // metadata filter (missing key never matches, search_service.py:75).
    val filtered = LibrarySnapshot.where(snap.frame, filters)

    // The empty-after-filter check (search_service.py:105-106) and the
    // corpus-dim probe the index guards need: the first filtered row's dim.
    val dim = snap.firstDim(filters).getOrElse(
      return SearchResult(Nil, index, None, version))

    // Query vector: given embedding, else embed text at the corpus dim
    // (search_service.py:110-116 passes dim through), else error.
    val qvec: Array[Float] = queryEmbedding.getOrElse {
      val text = queryText.getOrElse(
        throw new IllegalArgumentException("query_text or query_embedding required"))
      embedder.getOrElse(
        throw new IllegalArgumentException("no embedder configured")).embedAt(text, dim)
    }

    // Dim guard on BOTH index paths (brute_force.py:36-37). The reference's
    // lsh path has no clean guard — a mismatched query just explodes inside
    // NumPy — so erroring here matches its observable "errors on mismatch"
    // behavior rather than silently scoring a common prefix.
    BruteForceKnn.requireDim(qvec, dim)

    // The PRODUCTION tier first (r16, r15 verdict #5): when this
    // library's corpus is registered as an at-rest layout AT the
    // current version, `index = "lsh"` serves through the optimizer
    // rule — bucket-probe (or, under metadata filters, the
    // guaranteed-k escalation ladder) over the stored layout, envelope
    // unchanged, `index_used` distinguishing the tier. Any other
    // version (stale registration) falls through to the transient
    // paths below — the reference's own version-pinned staleness
    // contract.
    if (index == "lsh") {
      val bridged = atRest.flatMap(
        _.tryServe(spark, snap.library, qvec, k, filters) { (df, laddered, kind) =>
          val rows = rerank(df).limit(k).select(hitColumns(laddered): _*).collect()
          // the ladder's served level (constant across one query's
          // rows) reaches the envelope — the O10 reporting contract
          // carried through the O12 surface
          (rows.map(hit).toSeq, atRestUsed(rows, laddered, kind))
        })
      bridged.foreach { case (hits, used) =>
        return SearchResult(hits, index, Some(used), version)
      }
    }

    val (hitsDF, used) = index match {
      case "brute" =>
        (BruteForceKnn.search(filtered, col("embedding"), col("id"), qvec, k), "brute")
      case "lsh" =>
        indexCache match {
          // Version-keyed cached bucketing: hashing ran once per
          // (library, incarnation, version, params), from this query's
          // own snapshot; this query only filters stored bucket columns.
          // Metadata filters apply on top of the cached frame — same
          // rows as the uncached path. The staleness proof is the cache
          // key (a mutation bumps the version).
          case Some(c) =>
            val bucketed = c.bucketed(snap, lsh, dim)
            lsh.searchBucketed(LibrarySnapshot.where(bucketed, filters),
              col("embedding"), col("id"), qvec, k)
          case None =>
            lsh.search(filtered, col("embedding"), col("id"), qvec, k)
        }
      case other =>
        throw new IllegalArgumentException(s"unknown index: $other")
    }

    // O15 rerank hook: identity by default (query_workflow.py:248-259),
    // reserved for semantic reranking / metadata boosting; callers that
    // rerank must re-trim to k afterwards (interactive_workflow.py:346-349).
    val hits = rerank(hitsDF)
      .limit(k)
      .select(hitColumns(laddered = false): _*)
      .collect()
      .map(hit)
      .toSeq

    SearchResult(hits, index, Some(used), version)
  }

  /** The columns a [[Hit]] is read from, plus the ladder's served level
    * (`index_used`) when a guaranteed-k ladder served the rows. */
  private def hitColumns(laddered: Boolean): Seq[org.apache.spark.sql.Column] =
    (Seq("id", "document_id", "library_id", "text", "metadata", "score") ++
      (if (laddered) Seq("index_used") else Nil)).map(col)

  /** One collected row as a [[Hit]], read by column name. */
  private def hit(r: Row): Hit =
    Hit(r.getAs[String]("id"), r.getAs[String]("document_id"),
      r.getAs[String]("library_id"), r.getAs[String]("text"),
      r.getMap[String, String](r.fieldIndex("metadata")).toMap, r.getAs[Double]("score"))

  /** The at-rest envelope's `index_used`: `<kind>_at_rest` for a plain
    * probe; under a metadata filter, the ladder level the rows were
    * served at (`at_rest_<level>`), `at_rest_brute` when the filtered
    * pool was empty and the ladder ran out. */
  private def atRestUsed(rows: Array[Row], laddered: Boolean, kind: String): String =
    if (laddered)
      rows.headOption.map(r => "at_rest_" + r.getAs[String]("index_used"))
        .getOrElse("at_rest_brute")
    else s"${kind}_at_rest"

  /** The library's snapshot: the cached entry, or built uncached. */
  private def snapshot(libraryId: String): LibrarySnapshot =
    indexCache.fold(LibrarySnapshot(spark, engine.state, libraryId))(
      _.snapshot(engine, spark, libraryId))

  /** BATCHED O12 search (r17 stretch): every request of the batch
    * answered by ONE plan when the library is registered at its
    * current version on the at-rest tier (any kind — LSH/IVF batched
    * broadcast probe, HNSW one-scan-all-queries) — the 11–61×
    * batched-serving wins surfaced through the reference's own API
    * shape. Per-request envelopes are IDENTICAL to [[search]]'s
    * bridged path: `index_used = "<kind>_at_rest"` bare, and under a
    * metadata FILTER each request reports its own served ladder level
    * (`at_rest_<level>` — the batched guaranteed-k rewrite decides
    * every request's escalation in the same one plan). Falls back to
    * a per-request [[search]] loop — correct, just not batched — when
    * the bridge cannot serve (unregistered, stale version, filtered
    * HNSW, k <= 0, or no bridge at all). */
  def searchBatch(libraryId: String,
                  queryEmbeddings: Seq[Array[Float]],
                  k: Int = 5,
                  index: String = "brute",
                  filters: Map[String, String] = Map.empty): Seq[SearchResult] = {
    val library = engine.getLibrary(libraryId)
    val version = library.version
    if (queryEmbeddings.isEmpty) return Nil
    val batched =
      if (index == "lsh" && k > 0)
        atRest.flatMap(_.tryServeBatch(spark, library,
          queryEmbeddings.toArray, k, filters))
      else None
    batched match {
      case Some((df, laddered, kind)) =>
        val rows = df.select(col("q_id") +: col("rn") +: hitColumns(laddered): _*)
          .collect().groupBy(_.getLong(0))
        queryEmbeddings.indices.map { i =>
          val reqRows = rows.getOrElse(i.toLong, Array.empty)
            .sortBy(_.getInt(1)) // the serve's own per-request rank
          // per-REQUEST envelope: under a filter each request reports
          // ITS served ladder level (the O10 contract at batch arity)
          SearchResult(reqRows.map(hit).toSeq, index,
            Some(atRestUsed(reqRows, laddered, kind)), version)
        }
      case None =>
        queryEmbeddings.map(v => search(libraryId, queryEmbedding = Some(v),
          k = k, index = index, filters = filters))
    }
  }
}
