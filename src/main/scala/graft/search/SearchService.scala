package graft.search

import graft.embed.Embedder
import graft.functions.VectorFunctions
import graft.index.{BruteForceKnn, IndexCache, RandomHyperplaneLsh}
import graft.state.{Engine, LibrarySnapshot}
import org.apache.spark.sql.{DataFrame, SparkSession}
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
          val cols = Seq(col("id"), col("document_id"), col("library_id"),
            col("text"), col("metadata"), col("score")) ++
            (if (laddered) Seq(col("index_used")) else Nil)
          val rows = rerank(df).limit(k).select(cols: _*).collect()
          val hits = rows.map(r => Hit(r.getString(0), r.getString(1),
            r.getString(2), r.getString(3), r.getMap[String, String](4).toMap,
            r.getDouble(5))).toSeq
          // the ladder's served level (constant across one query's
          // rows) reaches the envelope — the O10 reporting contract
          // carried through the O12 surface
          val used =
            if (laddered)
              rows.headOption.map(r => "at_rest_" + r.getString(6))
                .getOrElse("at_rest_brute")
            else s"${kind}_at_rest"
          (hits, used)
        })
      bridged.foreach { case (hits, used) =>
        return SearchResult(hits, index, Some(used), version)
      }
    }

    val (hitsDF, used) = index match {
      case "brute" =>
        (BruteForceKnn.search(filtered, col("embedding"), col("id"), qvec, k), "brute")
      case "lsh" =>
        val lsh = RandomHyperplaneLsh(lshTables, lshPlanes)
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
      .select(col("id"), col("document_id"), col("library_id"), col("text"),
        col("metadata"), col("score"))
      .collect()
      .map(r => Hit(r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getMap[String, String](4).toMap, r.getDouble(5)))
      .toSeq

    SearchResult(hits, index, Some(used), version)
  }

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
        val cols = Seq(col("q_id"), col("rn"), col("id"), col("document_id"),
          col("library_id"), col("text"), col("metadata"), col("score")) ++
          (if (laddered) Seq(col("index_used")) else Nil)
        val rows = df.select(cols: _*).collect().groupBy(_.getLong(0))
        queryEmbeddings.indices.map { i =>
          val reqRows = rows.getOrElse(i.toLong, Array.empty)
            .sortBy(_.getInt(1)) // the serve's own per-request rank
          val hits = reqRows
            .map(r => Hit(r.getString(2), r.getString(3), r.getString(4),
              r.getString(5), r.getMap[String, String](6).toMap, r.getDouble(7)))
            .toSeq
          // per-REQUEST envelope: under a filter each request reports
          // ITS served ladder level (the O10 contract at batch arity);
          // a request whose filtered pool is empty exhausted the
          // ladder to brute
          val used =
            if (laddered)
              reqRows.headOption.map(r => "at_rest_" + r.getString(8))
                .getOrElse("at_rest_brute")
            else s"${kind}_at_rest"
          SearchResult(hits, index, Some(used), version)
        }
      case None =>
        queryEmbeddings.map(v => search(libraryId, queryEmbedding = Some(v),
          k = k, index = index, filters = filters))
    }
  }
}
