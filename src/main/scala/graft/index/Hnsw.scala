package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hierarchical NSW (the HNSW shape: multi-layer navigable-small-world
  * graphs) — the roadmap upgrade over the single-layer [[NswKnn]].
  *
  * Layout: one graph per shard (Spark partition), FAISS-style sharded
  * serving — each shard answers with a beam search, the global answer
  * is the exact rerank of shard candidates. Within a shard:
  *
  *  - node levels are DETERMINISTIC (level = trailing-zeros base 4 of
  *    the insertion index, capped) instead of HNSW's random geometric
  *    draw — same expected layer sizes (1/4 per level), reproducible
  *    builds on any cluster;
  *  - insertion descends from the current entry point greedily through
  *    upper layers, then beam-searches each layer ≤ node level and
  *    connects to the M best (2M degree cap, similarity-pruned);
  *  - search descends greedily (ef=1) to layer 0, then beams with `ef`.
  *
  * Exact cosine everywhere, so returned scores are exact; hierarchy
  * only changes WHICH candidates surface (and turns the O(N) entry walk
  * of a flat NSW into O(log N) layer hops).
  *
  * [[HnswIndexStore]] persists the built graphs as a parquet table
  * (shard, node_idx, id, embedding, neighbors-per-level) so serving
  * never rebuilds: the reference re-indexes per query
  * (search_service.py:122); here the build is a batch job and the probe
  * is a scan of stored adjacency.
  */
object Hnsw {

  final val MaxLevel = 4

  /** level(i): trailing zeros of i in base 4, capped; node 0 owns the
    * top so an entry point always exists. */
  def levelOf(i: Int): Int =
    if (i == 0) MaxLevel
    else {
      var l = 0
      var x = i
      while (l < MaxLevel && x % 4 == 0) { l += 1; x /= 4 }
      l
    }

  private[index] def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** One shard's graph: `layers(l)(node)` = neighbor list at level l
    * (null above the node's level — jagged, parquet-friendly). */
  final case class ShardGraph(ids: Array[Long], vecs: Array[Array[Float]],
                              layers: Array[Array[Array[Int]]])

  /** Beam search one LAYER of the graph over nodes < bound. `layer` is
    * a neighbor lookup (null = no edges) so build-time adjacency
    * buffers and stored arrays share the code without copying. */
  private def beamLayer(vecs: Array[Array[Float]], layer: Int => Array[Int],
                        entry: Int, bound: Int, query: Array[Float], ef: Int): Array[(Int, Double)] = {
    val visited = new java.util.BitSet(bound)
    val candOrd = Ordering.by[(Int, Double), (Double, Int)](t => (t._2, -t._1))
    val cands = scala.collection.mutable.PriorityQueue.empty[(Int, Double)](candOrd)
    val results = scala.collection.mutable.PriorityQueue.empty[(Int, Double)](candOrd.reverse)
    val es = cos(vecs(entry), query)
    visited.set(entry)
    cands.enqueue((entry, es))
    results.enqueue((entry, es))
    while (cands.nonEmpty) {
      val (c, cs) = cands.dequeue()
      if (results.size >= ef && cs < results.head._2) cands.clear()
      else {
        val nbs = layer(c)
        if (nbs != null) nbs.foreach { nb =>
          if (nb < bound && !visited.get(nb)) {
            visited.set(nb)
            val s = cos(vecs(nb), query)
            if (results.size < ef || s > results.head._2) {
              cands.enqueue((nb, s))
              results.enqueue((nb, s))
              if (results.size > ef) results.dequeue()
            }
          }
        }
      }
    }
    results.dequeueAll.toArray.sortBy(t => (-t._2, t._1))
  }

  /** Greedy single-step descent on one layer (ef=1 beam). */
  private def greedyLayer(vecs: Array[Array[Float]], layer: Int => Array[Int],
                          entry: Int, bound: Int, query: Array[Float]): Int = {
    var cur = entry
    var curS = cos(vecs(cur), query)
    var improved = true
    while (improved) {
      improved = false
      val nbs = layer(cur)
      if (nbs != null) nbs.foreach { nb =>
        if (nb < bound) {
          val s = cos(vecs(nb), query)
          if (s > curS || (s == curS && nb < cur)) { cur = nb; curS = s; improved = true }
        }
      }
    }
    cur
  }

  /** Deterministic greedy-insertion build of one shard. `nodes` should
    * be pre-sorted (by id) for run-to-run reproducibility. */
  def build(nodes: Array[(Long, Array[Float])], m: Int = 8, efConstruction: Int = 32): ShardGraph = {
    val n = nodes.length
    val vecs = nodes.map(_._2)
    val layers = Array.fill(MaxLevel + 1)(new Array[Array[Int]](n))
    val adj = Array.fill(MaxLevel + 1)(
      new Array[scala.collection.mutable.ArrayBuffer[Int]](n))
    def ensure(l: Int, i: Int): scala.collection.mutable.ArrayBuffer[Int] = {
      if (adj(l)(i) == null) adj(l)(i) = scala.collection.mutable.ArrayBuffer.empty[Int]
      adj(l)(i)
    }
    def layerView(l: Int): Int => Array[Int] =
      i => { val b = adj(l)(i); if (b == null) null else b.toArray }
    var i = 1
    while (i < n) {
      val lvl = levelOf(i)
      val q = vecs(i)
      // descend from the top entry (node 0 owns MaxLevel) to lvl+1
      var entry = 0
      var l = MaxLevel
      while (l > lvl) { entry = greedyLayer(vecs, layerView(l), entry, i, q); l -= 1 }
      // connect on each layer <= lvl
      while (l >= 0) {
        val near = beamLayer(vecs, layerView(l), entry, i, q, efConstruction)
        val chosen = near.take(m)
        chosen.foreach { case (j, _) =>
          ensure(l, i) += j
          val back = ensure(l, j)
          back += i
          if (back.length > 2 * m) {
            val pruned = back.map(x => (x, cos(vecs(j), vecs(x))))
              .sortBy(t => (-t._2, t._1)).take(2 * m).map(_._1)
            back.clear(); back ++= pruned
          }
        }
        if (near.nonEmpty) entry = near.head._1
        l -= 1
      }
      i += 1
    }
    (0 to MaxLevel).foreach { l =>
      var j = 0
      while (j < n) { if (adj(l)(j) != null) layers(l)(j) = adj(l)(j).toArray; j += 1 }
    }
    ShardGraph(nodes.map(_._1), vecs, layers)
  }

  /** Search one built shard: greedy descent to layer 0, then beam. */
  def searchShard(g: ShardGraph, query: Array[Float], ef: Int): Array[(Long, Double)] = {
    val n = g.ids.length
    if (n == 0) return Array.empty
    var entry = 0
    var l = MaxLevel
    while (l > 0) { val lv = g.layers(l); entry = greedyLayer(g.vecs, i => lv(i), entry, n, query); l -= 1 }
    val l0 = g.layers(0)
    beamLayer(g.vecs, i => l0(i), entry, n, query, ef)
      .map { case (idx, s) => (g.ids(idx), s) }
  }

  /** Transient ANN top-k: per-partition hierarchical graph + beam, then
    * global exact rerank — [[NswKnn.search]] with layers. */
  def search(emb: DataFrame, idCol: String, embCol: String, query: Array[Float], k: Int,
             m: Int = 8, efConstruction: Int = 32, ef: Int = 48): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.where(col(embCol).isNotNull)
      .select(col(idCol).cast("long"), col(embCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val nodes = it.toArray.sortBy(_._1)
        if (nodes.isEmpty) Iterator.empty
        else searchShard(build(nodes, m, efConstruction), query, ef).iterator
      }
      .toDF(idCol, "score")
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }
}

/** One persisted graph node (jagged neighbors: index = level; empty
  * list above the node's level). */
final case class HnswNodeRow(shard: Int, node_idx: Int, id: Long,
                             embedding: Array[Float], neighbors: Array[Array[Int]])

/** At-rest hierarchical-NSW layout: graphs built ONCE as a batch job,
  * stored as parquet partitioned by shard, served by scanning stored
  * adjacency — never rebuilt per query (the reference rebuilds per
  * query, search_service.py:122).
  *
  * Shard files are written one-per-shard; at read time Spark packs
  * whole small files into task bins (a sub-128MB file is never split),
  * so a task may hold several complete shards — the searcher groups its
  * rows by shard before reconstructing graphs.
  */
final case class HnswIndexStore(m: Int = 8, efConstruction: Int = 32) {

  def write(emb: DataFrame, idCol: String, embCol: String, path: String,
            numShards: Int): Unit =
    writeLayout(emb, idCol, embCol, path, numShards, shardOffset = 0, mode = "overwrite")

  /** Incremental ingest — the SEGMENT model (how every LSM-shaped
    * index takes writes): each delta batch is built into NEW shard
    * graphs whose ids start past the store's current max, appended as
    * fresh partition directories. Existing graphs are never touched
    * (an in-place graph insert would mean rebuilding the shard), the
    * reconstruct() completeness invariant holds per segment, and
    * [[search]]/[[searchMany]] already fan out over every stored
    * shard — new vectors are searchable the moment the append commits.
    * A periodic [[compact]] rebuilds accumulated small segments into a
    * fresh generation.
    *
    * Returns [[HnswIndexStore.HnswAppendStats]] — the compaction
    * trigger riding the append itself (r16, the IVF
    * [[IvfIndexStore.AppendStats]] precedent). HnswSegmentProbe
    * (100k-row base + 1k-row appended segments, 64-d, local[32])
    * measured the decay shape: recall@10 RISES with segments (0.50 at
    * 8 → 0.82 at 264 — small graphs beam near-exhaustively, so more
    * segments mean more independent candidates reaching the global
    * rank) while warm serve time is flat to ~24 segments (0.46→0.51 s
    * for 20 queries), doubles by 72 (0.97 s) and hits 2.9× at 264
    * (1.32 s): once the graph count passes the executor-slot count,
    * per-segment reconstruction+beam work stops parallelizing and
    * starts queueing. So this is a COST trigger, not a quality alarm
    * — which is why it keys on the free observable the append's own
    * directory listing computes, never on measured recall. The
    * response is a periodic [[write]] compaction. */
  def append(delta: DataFrame, idCol: String, embCol: String, path: String,
             numShards: Int = 1): HnswIndexStore.HnswAppendStats = {
    val spark = delta.sparkSession
    writeLayout(delta, idCol, embCol, path, numShards,
      nextShardOffset(spark, path), mode = "append")
    HnswIndexStore.HnswAppendStats(segmentCount(spark, path))
  }

  /** The compaction RESPONSE (r16 — the other half of
    * [[HnswIndexStore.HnswAppendStats.compactionAdvised]], and the
    * HNSW analog of [[IvfIndexStore.recluster]]): rebuild the store's
    * CURRENT contents — base plus every appended segment — into a
    * fresh `numShards`-graph layout at `newPath`. A NEW path rather
    * than an in-place overwrite for the same two reasons recluster
    * refuses one: live FileIndexes hold the old listing, and Spark
    * (rightly) refuses to overwrite a path it is reading. The caller
    * re-points serving and retires the old generation through
    * [[IndexGenerations.retire]] (reader-drain deferred delete).
    * Graph builds are per-shard ([[Hnsw.build]] on each repartition),
    * so the cost is one corpus read + numShards parallel builds —
    * the same cost as the original [[write]]. Returns the new
    * layout's segment count (== numShards). */
  def compact(spark: SparkSession, path: String, newPath: String,
              numShards: Int): Int = {
    require(new java.io.File(newPath).getAbsolutePath.stripSuffix("/") !=
        new java.io.File(path).getAbsolutePath.stripSuffix("/"),
      "compact must write a NEW layout path — live readers hold the old file listing")
    import spark.implicits._
    val rows = loadNodes(spark, path)
      .map(r => (r.id, r.embedding))
      .toDF("id", "embedding")
    write(rows, "id", "embedding", newPath, numShards)
    segmentCount(spark, newPath)
  }

  /** Stored segment (shard directory) count — the same free listing
    * [[nextShardOffset]] does, exposed for the compaction advice. */
  def segmentCount(spark: SparkSession, path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(_.getPath.getName.startsWith("shard="))
  }

  /** First free shard id, from the partition DIRECTORY NAMES — a pure
    * filesystem listing, not a Spark job over the store (an O(segments)
    * scan per micro-batch would make a long-running ingest quadratic).
    * Resolved through Hadoop's FileSystem so the store works on any
    * supported filesystem (HDFS/S3/local), not just `java.io.File`.
    */
  private def nextShardOffset(spark: SparkSession, path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0
    else {
      val ids = fs.listStatus(p).iterator.map(_.getPath.getName)
        .filter(_.startsWith("shard="))
        .map(_.stripPrefix("shard=").toInt)
      if (ids.isEmpty) 0 else ids.max + 1
    }
  }

  /** Attach a streaming source: every micro-batch becomes a segment.
    * Segment ids are a DETERMINISTIC function of the stream's batch id
    * (`offset0 + batchId·numShards + partition`), and the write is a
    * dynamic-partition overwrite of exactly those ids — so a batch
    * replayed after a crash-between-commit-and-checkpoint overwrites
    * its own segment instead of duplicating vectors (foreachBatch is
    * at-least-once; idempotence, not atomicity, is what makes the
    * sink effectively exactly-once).
    *
    * The base offset is PERSISTED next to the checkpoint on first
    * start and reused on every restart: recomputing it from the store
    * listing would see an orphaned segment written by a crashed batch
    * (crash between segment write and checkpoint commit) and shift the
    * replayed batch onto NEW shard ids, duplicating its vectors.
    * Without a checkpoint there is no cross-restart replay, so a fresh
    * listing is safe. Parity with PqIndexStore's streaming ingest.
    */
  def appendStream(rows: DataFrame, idCol: String, embCol: String, path: String,
                   numShards: Int = 1, checkpointDir: Option[String] = None,
                   onBatch: HnswIndexStore.HnswAppendStats => Unit = _ => ())
  : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = rows.sparkSession
    val offset0 = checkpointDir match {
      case Some(d) =>
        val marker = new org.apache.hadoop.fs.Path(d, "_graft_shard_offset0")
        val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
        if (fs.exists(marker)) {
          val in = fs.open(marker)
          try in.readInt() finally in.close()
        } else {
          val o = nextShardOffset(spark, path)
          val out = fs.create(marker, false)
          try out.writeInt(o) finally out.close()
          o
        }
      case None => nextShardOffset(spark, path)
    }
    var w = rows.writeStream.outputMode("append")
    checkpointDir.foreach(d => w = w.option("checkpointLocation", d))
    w.foreachBatch { (batch: DataFrame, batchId: Long) =>
      writeLayout(batch, idCol, embCol, path, numShards,
        offset0 + (batchId * numShards).toInt, mode = "dynamicOverwrite")
      // the compaction advice per micro-batch — the
      // [[IvfIndexStore.appendStream]] onBatch parity (r16): an ingest
      // job alarms on segment accumulation instead of polling a probe.
      // Runs after the segment write COMMITS, so the advice can never
      // count a segment that didn't land.
      onBatch(HnswIndexStore.HnswAppendStats(segmentCount(spark, path)))
    }.start()
  }

  private def writeLayout(emb: DataFrame, idCol: String, embCol: String, path: String,
                          numShards: Int, shardOffset: Int, mode: String): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.where(col(embCol).isNotNull)
      .select(col(idCol).cast("long"), col(embCol))
      .as[(Long, Array[Float])]
      .repartition(numShards, col(idCol))
      .mapPartitions { it =>
        val nodes = it.toArray.sortBy(_._1)
        if (nodes.isEmpty) Iterator.empty
        else {
          val shard = shardOffset + org.apache.spark.TaskContext.getPartitionId()
          val g = Hnsw.build(nodes, m, efConstruction)
          g.ids.indices.iterator.map { i =>
            val nbs = (0 to Hnsw.MaxLevel).map { l =>
              val a = g.layers(l)(i)
              if (a == null) Array.empty[Int] else a
            }.toArray
            HnswNodeRow(shard, i, g.ids(i), g.vecs(i), nbs)
          }
        }
      }
      .toDF()
      .repartition(col("shard"))
      .write
      .mode(if (mode == "dynamicOverwrite") "overwrite" else mode)
      .option("partitionOverwriteMode",
        if (mode == "dynamicOverwrite") "dynamic" else "static")
      .partitionBy("shard").parquet(path)
  }

  /** Batched serving: answer EVERY query in one scan pass — each task
    * reconstructs its shards once and beams all queries through them,
    * so the per-query cost is the beam, not the scan. One small shuffle
    * ranks per query. Output: (qid, id, score, rn) with rn 1..k.
    */
  def searchMany(spark: SparkSession, path: String,
                 queries: Array[(Long, Array[Float])], k: Int,
                 ef: Int = 48): org.apache.spark.sql.DataFrame =
    searchManyNodes(spark.read.parquet(path), queries, k, ef)

  /** [[searchMany]] over a pre-listed nodes DataFrame (the serving-
    * residency form, like [[searchNodes]]). */
  def searchManyNodes(nodes: DataFrame, queries: Array[(Long, Array[Float])],
                      k: Int, ef: Int = 48): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val perShard = nodes
      .select(col("shard"), col("node_idx"), col("id"), col("embedding"), col("neighbors"))
      .as[HnswNodeRow]
      .mapPartitions { it =>
        HnswIndexStore.reconstruct(it).flatMap { g =>
          queries.iterator.flatMap { case (qid, qv) =>
            Hnsw.searchShard(g, qv, ef).iterator.map { case (id, s) => (qid, id, s) }
          }
        }
      }
      .toDF("qid", "id", "score")
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id").asc)
    perShard.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .orderBy(col("qid"), col("rn"))
  }

  private def loadNodes(spark: SparkSession, path: String)
  : org.apache.spark.sql.Dataset[HnswNodeRow] = {
    import spark.implicits._
    spark.read.parquet(path)
      .select(col("shard"), col("node_idx"), col("id"), col("embedding"), col("neighbors"))
      .as[HnswNodeRow]
  }

  /** Probe the stored graphs: one scan, zero build work per query. */
  def search(spark: SparkSession, path: String, query: Array[Float], k: Int,
             ef: Int = 48): DataFrame =
    searchNodes(spark.read.parquet(path), query, k, ef)

  /** [[search]] over a pre-listed nodes DataFrame — the serving-
    * residency form (r17, the REST bridge's HNSW kind): a serving
    * layer lists the layout's partition directories ONCE and reuses
    * the FileIndex across queries (the `Queries.lshLayoutCache` lesson —
    * re-listing per query costs more than the probe). */
  def searchNodes(nodes: DataFrame, query: Array[Float], k: Int,
                  ef: Int = 48): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    nodes
      .select(col("shard"), col("node_idx"), col("id"), col("embedding"), col("neighbors"))
      .as[HnswNodeRow]
      .mapPartitions { it =>
        HnswIndexStore.reconstruct(it).flatMap(g => Hnsw.searchShard(g, query, ef).iterator)
      }
      .toDF("id", "score")
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }
}

/** A deterministic, SQL-replayable walk over a PERSISTED
  * [[HnswIndexStore]] graph — the hash-exact verification surface for
  * the hierarchical index (`ann_hnsw_walk`). The production beam
  * ([[Hnsw.searchShard]]: sweep-order greedy descent + ef-bounded
  * priority-queue beam) is covered by spec + brute-equivalence; its
  * visited set depends on queue/sweep order, which no independent SQL
  * replay can follow. This walk pins what CAN be replayed exactly:
  * from the stored entry point (node_idx 0), at each state take the
  * argmax-cosine neighbor of the current node on the current layer
  * (ties to the smaller id), move if it beats the current node
  * (strictly, or equal-score-smaller-id), else descend one layer
  * carrying the node; stop at layer 0 with no improvement. Every
  * state — including per-layer arrival rows — is emitted with the
  * neighbor list it examined, so the DuckDB oracle can re-make every
  * decision from the stored adjacency + the embeddings table alone
  * (recursive CTE; adjacency inlined via oracle substitution like the
  * kmeans centroids). A divergent oracle walk hits a missing
  * adjacency row and mismatches — disagreement is always visible.
  */
object HnswWalk {

  /** One walk state: the node examined `nb_ids` (its stored neighbor
    * list on `layer`) to decide the next transition. */
  final case class WalkRow(step: Long, layer: Long, node_id: Long,
                           score: Double, nb_ids: Array[Long])

  /** Argmax greedy descent over one reconstructed shard graph. */
  def walkGraph(g: Hnsw.ShardGraph, query: Array[Float]): Seq[WalkRow] = {
    val n = g.ids.length
    require(n > 0, "cannot walk an empty graph")
    def nbs(l: Int, i: Int): Array[Int] = {
      val a = g.layers(l)(i); if (a == null) Array.empty else a
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[WalkRow]
    var step = 0L
    var cur = 0
    var curS = Hnsw.cos(g.vecs(cur), query)
    var l = Hnsw.MaxLevel
    out += WalkRow(step, l.toLong, g.ids(cur), curS, nbs(l, cur).map(g.ids(_)))
    while (l >= 0) {
      var moved = true
      while (moved) {
        moved = false
        val cand = nbs(l, cur)
        if (cand.nonEmpty) {
          // ties break on the node ID (the contract the oracle
          // replays), NOT the graph index — the two orders coincide
          // only when nodes were inserted in ascending-id order, a
          // property of HnswIndexStore.writeLayout that walkGraph,
          // as a public API over any ShardGraph, must not assume
          var bi = -1; var bs = 0.0
          cand.foreach { nb =>
            val s = Hnsw.cos(g.vecs(nb), query)
            if (bi < 0 || s > bs || (s == bs && g.ids(nb) < g.ids(bi))) { bi = nb; bs = s }
          }
          if (bs > curS || (bs == curS && g.ids(bi) < g.ids(cur))) {
            cur = bi; curS = bs; step += 1; moved = true
            out += WalkRow(step, l.toLong, g.ids(cur), curS, nbs(l, cur).map(g.ids(_)))
          }
        }
      }
      l -= 1
      if (l >= 0) {
        step += 1
        out += WalkRow(step, l.toLong, g.ids(cur), curS, nbs(l, cur).map(g.ids(_)))
      }
    }
    out.toSeq
  }

  /** Build a single-shard store at `path` from `emb`, then walk the
    * adjacency READ BACK from the parquet — the walk checks what was
    * persisted, not the in-memory build. Single shard so there is one
    * graph to walk (the distributed serving path is [[HnswIndexStore
    * .searchMany]]; this is a verification surface, ≤ a few dozen
    * output rows). Callers hold the query vector out of `emb` so the
    * walk has somewhere to go. */
  def persistedWalk(spark: SparkSession, emb: DataFrame, idCol: String, embCol: String,
                    query: Array[Float], path: String): Seq[WalkRow] = {
    import spark.implicits._
    HnswIndexStore().write(emb, idCol, embCol, path, numShards = 1)
    spark.read.parquet(path)
      .select(col("shard"), col("node_idx"), col("id"), col("embedding"), col("neighbors"))
      .as[HnswNodeRow]
      .repartition(1) // one task sees the whole (single) shard
      .mapPartitions(it => HnswIndexStore.reconstruct(it).flatMap(g => walkGraph(g, query).iterator))
      .collect()
      .sortBy(_.step)
      .toSeq
  }
}

object HnswIndexStore {
  /** Rebuild every complete shard graph held by this task. A shard
    * split across read tasks would rebuild a PARTIAL graph whose stored
    * neighbor indices point at wrong positions — traversal would
    * silently return near-random candidates. Node indices are written
    * contiguous from 0, so completeness is checkable: fail loudly
    * instead. (Shard files only split past maxPartitionBytes — size
    * shards under it, or raise numShards.)
    */
  /** Segment statistics emitted by [[HnswIndexStore.append]] — the
    * compaction-advice twin of [[IvfIndexStore.AppendStats]]. The
    * signal is FREE (the append already lists the store's shard
    * directories to pick the next id); the decision rule lives here so
    * an ingest job can alarm instead of a probe. */
  final case class HnswAppendStats(segments: Int) {

    /** Advise compaction (a fresh [[HnswIndexStore.write]]) when the
      * accumulated segment count passes `maxSegments`. Default 32 is
      * the HnswSegmentProbe knee: serve time stays flat while the
      * segment count is at or under the executor-slot count (every
      * graph reconstructs+beams in parallel — 0.46 s at 8 segments,
      * 0.51 s at 24, local[32]) and roughly doubles once it exceeds it
      * (0.97 s at 72, 1.32 s at 264 — the fan-out queues). Size it to
      * the cluster's parallelism, not to recall: the probe measured
      * recall RISING with segment count, so this is a latency-budget
      * dial with no quality cliff behind it. The response is
      * [[HnswIndexStore.compact]]. */
    def compactionAdvised(maxSegments: Int = 32): Boolean =
      segments > maxSegments
  }

  private[index] def reconstruct(it: Iterator[HnswNodeRow]): Iterator[Hnsw.ShardGraph] =
    it.toArray.groupBy(_.shard).iterator.map { case (shard, rows) =>
      val sorted = rows.sortBy(_.node_idx)
      require(sorted.head.node_idx == 0 && sorted.last.node_idx == sorted.length - 1,
        s"shard $shard is incomplete in this task (${sorted.length} rows, " +
          s"idx ${sorted.head.node_idx}..${sorted.last.node_idx}); " +
          "the shard file was split across input partitions — raise numShards " +
          "so each shard file stays under spark.sql.files.maxPartitionBytes")
      val layers = Array.tabulate(Hnsw.MaxLevel + 1) { l =>
        sorted.map { r =>
          if (l < r.neighbors.length && r.neighbors(l).nonEmpty) r.neighbors(l) else null
        }
      }
      Hnsw.ShardGraph(sorted.map(_.id), sorted.map(_.embedding), layers)
    }
}
