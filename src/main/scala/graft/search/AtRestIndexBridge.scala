package graft.search

import graft.index.{IndexGenerations, LshIndexStore, RandomHyperplaneLsh}
import graft.plans.LshProbeRewrite
import graft.state.{Engine, LibraryRow, LibrarySnapshot}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bridges the reference's O12 search orchestrator onto the PRODUCTION
  * serving tier (r15 verdict, Next #5): until r16, `index = "lsh"`
  * REST searches answered from the engine-state bucket cache
  * (reference parity — in-process, rebuilt per (library, version)),
  * while the rule-served at-rest layouts, the registered policies and
  * the guaranteed-k ladder were reachable only through gates. This
  * bridge is the missing link: [[register]] writes a library's corpus
  * as an [[LshIndexStore]] layout at its CURRENT version and registers
  * it with the optimizer rule under the GUARANTEED-K policy, and
  * [[SearchService]] then serves `index = "lsh"` through it — envelope
  * unchanged (`index`, `index_used`, `library_version`), `index_used`
  * distinguishing the tier (`lsh_at_rest` for the plain probe,
  * `at_rest_<level>` when a metadata filter rode the escalation
  * ladder).
  *
  * Staleness is the reference's own contract: the registration is
  * version-pinned, and a search at any OTHER library version falls
  * back to the transient path (correct, just not layout-served) until
  * [[register]] is called again — which also swaps generations the
  * r16 way: register(new) → unregister(old) → retire(old) through
  * [[IndexGenerations]], serving reads holding a lease so a re-register
  * mid-flight defers the old directory's deletion instead of racing it.
  */
final class AtRestIndexBridge(baseDir: String = "target/at-rest-bridge",
                              numPhysicalPartitions: Int = 16) {

  /** One registered generation, built from the row `library`. It
    * serves only that row's version AND incarnation, so a library
    * deleted and re-created under its old id and written back to the
    * registered version count is never served the deleted library's
    * layout (the [[graft.index.IndexCache]] key). */
  private final case class Entry(path: String, library: LibraryRow,
                                 kind: String, // "lsh" | "ivf" | "hnsw"
                                 layout: DataFrame,
                                 // hnsw only: the chunk payload view at
                                 // the registered version (the graph
                                 // layout stores hashed node ids +
                                 // vectors, not the chunk columns)
                                 payload: Option[DataFrame] = None) {
    def serves(lib: LibraryRow): Boolean =
      library.version == lib.version && library.incarnation == lib.incarnation
  }

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[String, Entry]

  // Finish any interrupted retirements a crashed predecessor left
  // under this bridge root (r17, r16 verdict #6): generations live at
  // <baseDir>/<libraryId>/<gen>, so each library directory is a sweep
  // parent. Before this, a crash between "retire deferred" and "last
  // lease released" left marker-carrying directories on disk until a
  // hand-run sweep — the machinery existed (IndexGenerationsSpec) but
  // nothing called it on a production path.
  locally {
    Option(new java.io.File(baseDir).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
      .foreach(lib => IndexGenerations.sweep(lib.getPath): Unit)
  }

  /** Build + register `libraryId`'s corpus at its current version.
    * Returns the layout path. Idempotent per (library, incarnation,
    * version, kind); a NEW version (or kind, or incarnation) writes a
    * new generation and retires the old one. */
  def register(spark: SparkSession, engine: Engine, libraryId: String,
               lsh: RandomHyperplaneLsh = RandomHyperplaneLsh(8, 12, 42L)): String = {
    val snap = LibrarySnapshot(spark, engine.state, libraryId)
    val existing = Option(entries.get(libraryId))
    if (existing.exists(e => e.serves(snap.library) && e.kind == "lsh"))
      return existing.get.path
    val (corpus, dim) = requireCorpus(snap)
    val path = generationPath(snap, "")
    // scale-adaptive physical partitioning with the constructor value
    // as the cap (r18, same rule as the gate layouts): a fixed 16-way
    // split of a small library shatters the layout into ~tables×16
    // tiny files and every batched serve pays per-file reader init;
    // the registration sidecar persists the resolved count, so
    // cross-JVM adopters probe with the writer's modulus.
    val parts = graft.index.LshIndexStore
      .adaptivePartitions(corpus, cap = numPhysicalPartitions)
    // `hid` — the long node identity (xxhash64 of the string chunk id)
    // — is STORED in the layout (r17): the batched rewrite's type
    // guards require long id columns on both sides, so carrying the
    // hash as a plain layout column is what lets a REST batch DECLARE
    // the batched top-k over the registered relation and have the
    // registration rewrite it (tryServeBatch), instead of a library
    // call bypassing the rule
    LshIndexStore(lsh, dim, parts).write(
      corpus.withColumn("hid", xxhash64(col("id"))), "embedding", path)
    LshProbeRewrite.register(path, lsh, dim, parts,
      guaranteeK = true)
    swapIn(spark, libraryId,
      Entry(path, snap.library, "lsh", spark.read.parquet(path)), existing)
  }

  /** The IVF twin of [[register]] (r16) — the decision table's
    * recommended serving kind for clustered (encoder-shaped) corpora,
    * reachable from the same REST surface: the library's corpus as an
    * [[graft.index.IvfIndexStore]] layout, registered under the IVF
    * GUARANTEED-K policy (nprobe → 2·nprobe → filtered corpus under
    * metadata filters), identical envelope. Centroid ids are
    * `xxhash64(chunk id)` — chunk ids are STRINGS and a centroid id
    * only needs identity, never arithmetic; `stride` samples
    * ~corpus/stride centroids. */
  def registerIvf(spark: SparkSession, engine: Engine, libraryId: String,
                  nprobe: Int = 2, stride: Long = 7L): String = {
    val snap = LibrarySnapshot(spark, engine.state, libraryId)
    val existing = Option(entries.get(libraryId))
    if (existing.exists(e => e.serves(snap.library) && e.kind == "ivf"))
      return existing.get.path
    val (corpus, _) = requireCorpus(snap)
    val cents = graft.index.IvfKnn.centroids(corpus,
      org.apache.spark.sql.functions.xxhash64(col("id")), col("embedding"), stride)
    require(cents.nonEmpty,
      s"library $libraryId sampled no centroids at stride $stride")
    val path = generationPath(snap, "ivf-")
    graft.index.IvfIndexStore(cents).write(
      corpus.withColumn("hid", xxhash64(col("id"))), "embedding", path): Unit
    LshProbeRewrite.registerIvf(path, cents, nprobe, guaranteeK = true)
    swapIn(spark, libraryId,
      Entry(path, snap.library, "ivf", spark.read.parquet(path)), existing)
  }

  /** The HNSW twin of [[register]] (r17, r16 verdict #4): the
    * library's corpus as an [[graft.index.HnswIndexStore]] graph
    * layout, served by the driver-orchestrated beam under the same
    * generation-lease lifecycle and the same envelope
    * (`index_used = "hnsw_at_rest"`). Node ids are `xxhash64(chunk
    * id)` — chunk ids are STRINGS and a graph node id only needs
    * identity (the ann-family convention [[registerIvf]] established);
    * the serve joins hits back to the chunk payload on the same hash.
    * HNSW has no filtered form (the beam walks stored adjacency — a
    * predicate cannot prune a graph walk without starving it), so a
    * FILTERED search over an HNSW registration falls back to the
    * transient path: correct rows through the reference's own
    * orchestrator, never a silently under-filled beam. */
  def registerHnsw(spark: SparkSession, engine: Engine, libraryId: String,
                   m: Int = 8, efConstruction: Int = 32,
                   numShards: Int = 2): String = {
    val snap = LibrarySnapshot(spark, engine.state, libraryId)
    val existing = Option(entries.get(libraryId))
    if (existing.exists(e => e.serves(snap.library) && e.kind == "hnsw"))
      return existing.get.path
    val (corpus, _) = requireCorpus(snap)
    val path = generationPath(snap, "hnsw-")
    graft.index.HnswIndexStore(m, efConstruction).write(
      corpus.withColumn("hid", xxhash64(col("id"))),
      "hid", "embedding", path, numShards)
    swapIn(spark, libraryId,
      Entry(path, snap.library, "hnsw", spark.read.parquet(path), Some(corpus)), existing)
  }

  /** A generation's directory: one per (incarnation, version, kind),
    * so a re-created library never overwrites the layout a lease may
    * still be reading. */
  private def generationPath(snap: LibrarySnapshot, kindPrefix: String): String =
    s"$baseDir/${snap.library.id}/${kindPrefix}v${snap.version}-${snap.library.incarnation}"

  /** The corpus to index — the snapshot's frame, so the registered
    * version and the written rows come from one snapshot — and the dim
    * of its first chunk; an empty corpus is an error. */
  private def requireCorpus(snap: LibrarySnapshot): (DataFrame, Int) = {
    val dim = snap.firstDim(Map.empty)
    require(dim.nonEmpty, s"library ${snap.library.id} has no embedded chunks to index")
    (snap.frame, dim.get)
  }

  /** Publish the new generation and retire the replaced one
    * (register(new) → unregister(old) → retire(old); retirement defers
    * while serves hold leases). The layout DataFrame is cached per
    * entry: a serving layer lists the partition directories once and
    * reuses the FileIndex (the `Queries.lshLayoutCache` lesson — re-listing
    * per query costs more than the probe); partition pruning still
    * applies per query. */
  private def swapIn(spark: SparkSession, libraryId: String, entry: Entry,
                     existing: Option[Entry]): String = {
    LshProbeRewrite.inject(spark)
    // the generation being REPLACED is whatever the pointer published —
    // which covers replacements made by OTHER sessions (this instance's
    // own entry is a subset of that knowledge); retirement still defers
    // on leases and fresh foreign manifests
    def abs(p: String) = new java.io.File(p).getAbsolutePath
    val replaced = (readCurrentPath(libraryId).toSeq ++ existing.map(_.path))
      .map(abs).distinct.filterNot(_ == abs(entry.path))
    entries.put(libraryId, entry)
    writeCurrent(libraryId, entry)
    replaced.filter(p => new java.io.File(p).exists()).foreach { old =>
      LshProbeRewrite.unregister(old)
      IndexGenerations.retire(old): Unit // deferred while serves hold leases
    }
    entry.path
  }

  private def readCurrentPath(libraryId: String): Option[String] =
    try {
      val f = currentFile(libraryId)
      if (!f.exists()) None
      else Some(pointerMapper
        .readTree(java.nio.file.Files.readAllBytes(f.toPath))
        .get("path").asText())
    } catch { case scala.util.control.NonFatal(_) => None }

  // ---- the `_current` generation pointer (r17; the manifest gap's
  // other half). The `_serving` manifests make a retire DEFER while a
  // foreign session reads the old generation — but nothing told that
  // session a newer generation exists, so it served stale-version
  // fallbacks forever unless its own code re-registered. The pointer
  // (one JSON file in the library's generation parent, written by
  // every swap) closes the loop: a session whose entry is missing or
  // version-stale ADOPTS the pointed-at generation — restoring the
  // serving policy from the layout's own `_registration` sidecar —
  // and its old lease release lets the deferred delete finish.

  private val pointerMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def currentFile(libraryId: String): java.io.File =
    new java.io.File(s"$baseDir/$libraryId", "_current")

  private def writeCurrent(libraryId: String, e: Entry): Unit =
    try {
      val node = pointerMapper.createObjectNode()
      node.put("path", new java.io.File(e.path).getAbsolutePath)
      node.put("incarnation", e.library.incarnation)
      node.put("version", e.library.version)
      node.put("kind", e.kind): Unit
      java.nio.file.Files.createDirectories(currentFile(libraryId).getParentFile.toPath)
      java.nio.file.Files.write(currentFile(libraryId).toPath,
        pointerMapper.writeValueAsBytes(node)): Unit
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Adopt the generation another session published, when it matches
    * the engine's CURRENT library row (the version-pinned staleness
    * contract is unchanged — a pointer at any other version, or at
    * another incarnation of the same id, is ignored). HNSW entries are
    * not adoptable (their chunk-payload view needs engine state at
    * registration time); they re-register. */
  private def adoptCurrent(spark: SparkSession, lib: LibraryRow): Option[Entry] =
    try {
      val f = currentFile(lib.id)
      if (!f.exists()) return None
      val node = pointerMapper.readTree(java.nio.file.Files.readAllBytes(f.toPath))
      val kind = node.get("kind").asText()
      if (!Option(node.get("incarnation")).exists(_.asText() == lib.incarnation) ||
          node.get("version").asInt() != lib.version || kind == "hnsw") return None
      val path = node.get("path").asText()
      if (!new java.io.File(path).exists()) return None
      if (!LshProbeRewrite.isRegistered(path))
        LshProbeRewrite.registerFromSidecar(path): Unit
      LshProbeRewrite.inject(spark)
      val e = Entry(path, lib, kind, spark.read.parquet(path))
      entries.put(lib.id, e)
      Some(e)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The serving entry for the library row `lib`: the session's own
    * registration first, else the published `_current` generation. */
  private def liveEntry(spark: SparkSession, lib: LibraryRow): Option[Entry] =
    Option(entries.get(lib.id)).filter(_.serves(lib))
      .orElse(adoptCurrent(spark, lib))

  /** Serve one O12 query from the registered layout if `library` is
    * registered at its incarnation and version (else None — the caller
    * falls back to the transient path). `pack` runs under the generation's read lease,
    * so a concurrent re-register cannot delete the directory
    * mid-collect; it receives the served frame (plain columns + a
    * `score`, plus `index_used` when `laddered`) and whether the
    * guaranteed-k ladder was in play (a metadata filter was present).
    * The `require` keeps a silent non-rewrite loud: the registered
    * tier exists to serve the probe, and an exact scan here would be
    * correct rows through the wrong component. */
  private[search] def tryServe[A](spark: SparkSession, library: LibraryRow,
                                  qvec: Array[Float], k: Int,
                                  filters: Map[String, String])
                                 (pack: (DataFrame, Boolean, String) => A): Option[A] =
    liveEntry(spark, library).flatMap { e =>
      // the HNSW kind: no filtered form (see registerHnsw) — a
      // filtered search falls back to the transient path by returning
      // None here, exactly like a stale version does
      if (e.kind == "hnsw" && filters.nonEmpty) None
      else Some(serveEntry(spark, e, library.id, qvec, k, filters)(pack))
    }

  /** The last batch serve's executed-plan string (diagnostic surface —
    * the spec pins "one plan per batch" on it). */
  @volatile private[graft] var lastBatchPlan: Option[String] = None

  /** BATCHED O12 serving (r17 stretch — the end-to-end form of the
    * batched serving wins): answer a whole request SET from the
    * registered layout with ONE plan, the REST analog of the batched
    * rewrite gates. Request ids are batch ordinals; layout node
    * identity is `xxhash64(chunk id)` (string chunk ids vs the serves'
    * long-id contract — the [[registerHnsw]] convention applied to all
    * three kinds). Serves UNFILTERED batches only: a filtered batch is
    * the per-request ladder's business and falls back to the
    * orchestrator loop. Returns the (q_id, rn, payload..., score) rows
    * for every request plus the tier's `index_used` value — identical
    * per-request envelope to [[tryServe]]'s. */
  private[search] def tryServeBatch(spark: SparkSession, library: LibraryRow,
                                    qvecs: Array[Array[Float]],
                                    k: Int,
                                    filters: Map[String, String] = Map.empty)
  : Option[(DataFrame, Boolean, String)] =
    liveEntry(spark, library)
      // HNSW has no filtered form at either arity (see registerHnsw)
      .filterNot(e => e.kind == "hnsw" && filters.nonEmpty)
      .map { e =>
      LshProbeRewrite.inject(spark) // the serving session may not be the registering one
      IndexGenerations.lease(e.path, holderOf(spark)) {
        import spark.implicits._
        val laddered = filters.nonEmpty
        val reqs = qvecs.zipWithIndex
          .map { case (v, i) => (i.toLong, v.toSeq) }.toSeq
          .toDF("hid", "embedding")
          .select(col("hid"), col("embedding").cast("array<float>"))
        val hits = e.kind match {
          case "hnsw" =>
            graft.index.HnswIndexStore().searchManyNodes(e.layout,
                qvecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }, k)
              .select(col("qid").as("q_id"), col("rn").cast("int").as("rn"),
                col("id").as("neighbor_id"), col("score").as("cos"))
          case _ =>
            // REGISTRATION-DRIVEN (r17): the bridge DECLARES the
            // batched top-k — requests cross join the registered
            // layout on its stored long `hid`, self excluded, cosine-
            // scored, ranked per request — and the registration's
            // batched rewrite picks the physical serve (broadcast
            // bucket / centroid probe for a bare batch; the batched
            // guaranteed-k LADDER when a metadata filter rides the
            // layout side — every request's escalation in the same
            // one plan). The `require`s keep a silent non-rewrite
            // loud: a REST batch actually executing the quadratic
            // declaration is the failure this tier exists to avoid.
            val layoutSide = LibrarySnapshot.where(
                e.layout.select(col("hid"), col("embedding"), col("metadata")), filters)
              .select(col("hid"), col("embedding"))
            val envelope = Seq(col("q_id"), col("rn"), col("hid").as("neighbor_id"),
              col("cos")) ++ (if (laddered) Seq(lit("auto").as("index_used")) else Nil)
            // probe/ladder columns only exist in the REWRITTEN plan (the
            // declared quadratic carries none): the request side's hashed
            // bucket (q_bkt) or centroid ranking (c_cid), or the ladder's
            // min_dist; the serve's own tiny requests×centroids cross join
            // is legitimate, so the check is presence-of-probe, not
            // absence-of-cross-join
            val declared = LshProbeRewrite.requireServed(
              LshProbeRewrite.batchedTopK(
                  reqs.select(col("hid").as("q_id"), col("embedding").as("q_emb")),
                  layoutSide, k, idCol = "hid")
                .select(envelope: _*),
              Seq(if (laddered) "min_dist" else if (e.kind == "ivf") "c_cid" else "q_bkt"),
              placeholder = laddered)(
              s"the ${library.id} batch declaration must be rewritten to the " +
                "registered batched serve")
            // embed the ALREADY-REWRITTEN plan in the payload join: the
            // outer query re-optimizes its whole tree, and the declared
            // subtree inside a join does not re-match the batched shape
            // identically (observed: the ladder's placeholder overwrite
            // was lost) — the serve's own multi-conjunct joins cannot
            // re-match, so the optimized subtree is stable
            org.apache.spark.sql.graft.SqlShims.ofRows(spark,
              declared.queryExecution.optimizedPlan)
        }
        // payload join: hits are (batch ordinal, rank, hashed id, cos);
        // k·batch rows broadcast against one corpus scan. LSH layouts
        // carry one payload copy per sub-layout table — byte-identical,
        // so the post-join (q_id, id) dedupe is exact
        val payload = e.payload.getOrElse(
            e.layout.drop("table", "bucket", "bucket_part", "cluster_id"))
          .withColumn("n_hid", xxhash64(col("id")))
        val usedCols =
          if (laddered && e.kind != "hnsw") Seq(col("index_used")) else Nil
        val out = payload.join(broadcast(hits), col("n_hid") === col("neighbor_id"))
          .dropDuplicates("q_id", "id")
          .select(Seq(col("q_id"), col("rn"), col("id"), col("document_id"),
            col("library_id"), col("text"), col("metadata"),
            col("cos").as("score")) ++ usedCols: _*)
          .orderBy(col("q_id"), col("rn"))
        lastBatchPlan = Some(out.queryExecution.executedPlan.toString)
        (out, laddered && e.kind != "hnsw", e.kind)
      }
    }

  /** The serving session's manifest identity (r17 cross-JVM manifests:
    * leases under this holder write a `_serving` heartbeat, so a retire
    * in ANOTHER JVM defers while this session still serves). */
  private def holderOf(spark: SparkSession): String =
    org.apache.spark.sql.graft.SqlShims.sessionUUID(spark)

  /** Serve one query from a live entry, under its generation lease. */
  private def serveEntry[A](spark: SparkSession, e: Entry, libraryId: String,
                            qvec: Array[Float], k: Int,
                            filters: Map[String, String])
                           (pack: (DataFrame, Boolean, String) => A): A =
    if (e.kind == "hnsw")
      IndexGenerations.lease(e.path, holderOf(spark)) {
        // driver-orchestrated beam over the stored graphs (the store
        // call IS the serving path for this kind — there is no rule
        // rewrite to pin); hits join back to the chunk payload on the
        // hashed id, k rows against a broadcast — never corpus-sized
        val hits = graft.index.HnswIndexStore().searchNodes(e.layout, qvec, k)
          .withColumnRenamed("id", "hid")
        val out = e.payload.get
          .join(broadcast(hits), xxhash64(col("id")) === col("hid"))
          .drop("hid")
          .orderBy(col("score").desc, col("id").asc)
          .limit(k)
        pack(out, false, e.kind)
      }
    else
      IndexGenerations.lease(e.path, holderOf(spark)) {
        // serve the PAYLOAD, not the layout internals: hits never
        // expose bucket/cluster machinery, and the ladder rewrite only
        // binds plans whose projection is layout-oblivious (a deduped
        // or unioned candidate has no single honest `bucket` value) —
        // the probe rewrite still finds the layout columns on the scan
        // BELOW this projection
        val laddered = filters.nonEmpty
        val out = LshProbeRewrite.requireServed(
          LshProbeRewrite.topK(
            LibrarySnapshot.where(
              e.layout.drop("table", "bucket", "bucket_part", "cluster_id"), filters),
            qvec, k, idCol = "id", placeholder = laddered),
          Seq(if (laddered) "gk_level" else "LshProbeTopK"), placeholder = laddered)(
          s"registered-tier serve for $libraryId must go through the rule's probe or ladder")
        pack(out, laddered, e.kind)
      }
}
