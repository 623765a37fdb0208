package graft.index

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** At-rest index layout: the 100 TB serving path.
  *
  * The reference rebuilds its index in-process on every query
  * (search_service.py:122,125) and tracks staleness with
  * `library.version`. On Spark the index IS a table layout. One
  * sub-layout per LSH table (`.../table=t/bucket_part=p/`): each table
  * clusters the corpus by ITS bucket, so probing table t for a query is
  * a scan whose predicates are a pure conjunction — partition pruning +
  * row-group min/max on the exact bucket do the candidate lookup, no
  * driver-side bucket map, no shuffle. A single mixed layout cannot do
  * this: the cross-table candidate union is an OR, and an OR across
  * differently-clustered predicates defeats pruning. Storage is ×T —
  * the standard trade for pruned multi-table LSH serving (T=8 here).
  * Versioned paths (`.../v=<library.version>/`) give the reference's
  * staleness semantics: mutations write a new version, readers pin
  * theirs.
  *
  * Three more load-bearing knobs:
  *  - physical partition key is `bucket % numPhysicalPartitions`, not
  *    the raw 2^numPlanes bucket — a 4096-way partitionBy explodes file
  *    counts (measured 30×+ slower writes). The constructor's 256 is the
  *    cluster-scale count; the gate layouts and the at-rest bridge pass
  *    [[LshIndexStore.adaptivePartitions]] instead, which at gate and
  *    library sizes is one partition per table;
  *  - `repartition(partition key)` before the write so each partition
  *    directory is one task's single file, not tasks × partitions
  *    slivers;
  *  - rows are sorted by `bucket` inside each file, and each file is
  *    written as row groups of about [[LshIndexStore.RowGroupBytes]],
  *    so a pushed `bucket IN (...)` filter skips the row groups whose
  *    min/max miss the probed buckets. Parquet's 128 MiB default would
  *    make a table's whole file one row group, so every probe would read
  *    all of it (an 8,000-chunk library: all 64,000 layout rows). The
  *    `bucket` column's dictionary pages let Parquet skip a row group
  *    whose [min, max] holds a probed bucket that it lacks (without
  *    them that library's probe read 21,009 rows, not about 6,000). The
  *    embedding column is written without a dictionary: each small row
  *    group would build one of its floats again and then fall back to
  *    plain encoding, 20-30% of the write time (8,000 x 64-d, 4 cpus,
  *    warm: 1.12-1.29 s with it, 0.78-0.89 s without, same bytes).
  */
object LshIndexStore {

  /** Parquet row-group size of a layout file: small enough that a
    * table's file holds tens of row groups at 8,000 rows, so the probe's
    * pushed `bucket` filter prunes inside it. */
  private val RowGroupBytes: Int = 128 << 10

  /** SCALE-ADAPTIVE physical partition count (r18 optimization round,
    * guide §2/§6): the fixed 256-way default is a constant tuned for
    * cluster-scale corpora — at gate SFs it shatters the layout into
    * thousands of ~13 KB files (2,035 at sf0.1) and every unpruned
    * scan (the batched serves, the guaranteed-k ladder's ball join and
    * brute rung) pays ~10 ms of parquet reader init PER FILE: the
    * JobLedgerProbe measured 20-27 s of task CPU per full layout scan
    * against ~0.1 s of actual probe work. Derive the partition count
    * from the corpus' own size estimate instead: one physical
    * partition per `targetPartitionBytes` of corpus (each LSH table
    * holds the corpus once), capped at the production 256. At 100 TB
    * the formula saturates the cap — identical layout to today; at
    * gate SFs it collapses to a handful of directories whose files
    * stay row-group-sorted by `bucket`, so the probe's exact-bucket
    * predicate still prunes via min/max stats inside each file.
    * Plan-stats only — no job, no corpus pass; `bucket_part` is
    * derived storage metadata, so the partition count can never change
    * any query's rows (pinned by AnnEquivalenceSpec / the gates'
    * shared oracles).
    */
  def adaptivePartitions(corpus: DataFrame, cap: Int = 256,
                         targetPartitionBytes: Long = 32L << 20): Int = {
    val bytes = corpus.queryExecution.optimizedPlan.stats.sizeInBytes
    val parts = (bytes / targetPartitionBytes).min(BigInt(cap)).max(BigInt(1))
    parts.toInt
  }
}

final case class LshIndexStore(lsh: RandomHyperplaneLsh, dim: Int,
                               numPhysicalPartitions: Int = 256) {

  /** Write all clustered sub-layouts in ONE pass: hash once, posexplode
    * the per-table buckets (row count ×T — the same bytes the old
    * per-table loop wrote, but one shuffle + one write job instead of
    * T of each; measured ~3× faster at 2M vectors), repartition on the
    * layout key so each (table, bucket_part) directory is a single
    * task's single file.
    */
  def write(corpus: DataFrame, embCol: String, path: String): Unit = {
    // a fresh generation being written is the natural point to finish
    // any interrupted retirements among its SIBLINGS (r17, r16 verdict
    // #6 — sweep only deletes _retire_pending-marked directories, and
    // defers on registrations, live leases and fresh foreign manifests)
    Option(new java.io.File(path).getParentFile)
      .foreach(p => IndexGenerations.sweep(p.getPath): Unit)
    writeLayout(corpus, embCol, path, "overwrite")
  }

  /** Incremental maintenance: hash a DELTA of new rows with the same
    * planes and append its files into the existing partition
    * directories — the layout stays prunable and the probe predicate is
    * unchanged, so new rows are searchable the moment the append
    * commits. This is how a streaming ingest keeps the index fresh
    * (see [[appendStream]]) — vs. the reference, which can only
    * rebuild in-process per query. Periodic [[write]] compacts the
    * accumulated small delta files.
    */
  def append(delta: DataFrame, embCol: String, path: String): Unit =
    writeLayout(delta, embCol, path, "append")

  private def writeLayout(corpus: DataFrame, embCol: String, path: String,
                          mode: String): Unit = {
    val bucketed = lsh.withBuckets(corpus.where(col(embCol).isNotNull),
      VectorFunctions.l2Normalize(col(embCol)), dim)
    val payload = bucketed.columns.filterNot(_ == "buckets").map(col)
    bucketed
      .select(payload :+ posexplode(col("buckets")).as(Seq("table", "bucket")): _*)
      .withColumn("bucket_part", pmod(col("bucket"), lit(numPhysicalPartitions)))
      .repartition(col("table"), col("bucket_part"))
      .sortWithinPartitions(col("table"), col("bucket_part"), col("bucket"))
      .write.mode(mode)
      .option("parquet.block.size", LshIndexStore.RowGroupBytes.toLong)
      .option(s"parquet.enable.dictionary#$embCol.list.element", false)
      .partitionBy("table", "bucket_part")
      .parquet(path)
  }

  /** Attach a streaming source of new rows: every micro-batch is hashed
    * and appended to the at-rest layout (exactly-once per epoch via the
    * stream's checkpoint + parquet's atomic commit). */
  def appendStream(rows: DataFrame, embCol: String, path: String,
                   checkpointDir: Option[String] = None)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    var w = rows.writeStream.outputMode("append")
    checkpointDir.foreach(d => w = w.option("checkpointLocation", d))
    w.foreachBatch { (batch: DataFrame, _: Long) =>
      append(batch, embCol, path)
    }.start()
  }

  /** Probe: ONE scan of the root with
    * `(partition-col disjunction) AND (exact per-table bucket
    * disjunction)`. The first conjunct references only partition
    * columns (table, bucket_part) so Catalyst prunes directories for
    * all tables in a single listing; the second is implied per table by
    * the first's bucket (bucket determines bucket_part) and does the
    * exact row filtering. Then dedupe (a row sits in every sub-layout)
    * and exact rerank.
    */
  def search(spark: SparkSession, path: String, embCol: String, idCol: String,
             query: Array[Float], k: Int): DataFrame = {
    val qBuckets = lsh.queryBuckets(query, dim)
    val pruneOr = qBuckets.zipWithIndex.map { case (qb, t) =>
      col("table") === t && col("bucket_part") === qb % numPhysicalPartitions
    }.reduce(_ || _)
    val exactOr = qBuckets.zipWithIndex.map { case (qb, t) =>
      col("table") === t && col("bucket") === qb
    }.reduce(_ || _)
    val candidates = spark.read.parquet(path)
      .where(pruneOr && exactOr)
      .drop("table", "bucket", "bucket_part")
      .dropDuplicates(idCol)
    BruteForceKnn.search(candidates, col(embCol), col(idCol), query, k)
  }

  /** FILTERED search with GUARANTEED k via adaptive probe widening
    * (r14 verdict #3). A static probe policy composed with a selective
    * user predicate can return fewer than k rows — at the gate SFs the
    * exact-bucket candidate set ∩ a 2%-selectivity filter is typically
    * EMPTY, which is "hash-green but vacuous" serving. This is the
    * selectivity-aware ladder: count the candidates that survive the
    * filter at each widening level and escalate until ≥ k survive (or
    * the ladder tops out at an exact scan of the FILTERED subset):
    *
    *   1. exact-bucket probe ∩ filter       → `index_used = "lsh"`
    *   2. 1-bit Hamming-ball probe ∩ filter → `index_used = "lsh_mp1"`
    *   3. brute over the filtered subset    → `index_used = "brute"`
    *
    * — the O10 adaptive-fallback contract (reference
    * search_service.py:127-131 reports `index_used = "brute"` when it
    * abandons the index) extended with the intermediate multi-probe
    * rung. The ladder is monotone (exact ⊆ 1-bit ball ⊆ corpus), so
    * escalation only ever ADDS candidates; the final rerank is exact
    * cosine either way, so wider probes can only improve recall, never
    * change scoring. Rung 3 scans the `table = 0` sub-layout (every
    * corpus row exactly once — the at-rest layout stores each row per
    * table) under the filter, so no second un-bucketed copy of the
    * corpus is needed.
    *
    * Cost shape at scale: at most two driver-side COUNT jobs, each an
    * aggregate over the partition-pruned probe scan ∩ pushed filter
    * (the counts read the same few directories the probe itself
    * reads), then one ranked query. The brute rung reads the filtered
    * subset once — exactly what a correct answer requires when the
    * index's candidate set cannot satisfy the filter.
    */
  def searchFilteredAdaptive(layout: DataFrame, embCol: String, idCol: String,
                             userFilter: Column, query: Array[Float],
                             k: Int): DataFrame = {
    val qBuckets = lsh.queryBuckets(query, dim)
    def candidatesAt(maxHamming: Int): DataFrame = {
      val sets = lsh.probeSets(qBuckets, maxHamming).zipWithIndex
      val pruneOr = sets.map { case (set, t) =>
        col("table") === t && col("bucket_part").isin(
          set.map(b => math.floorMod(b, numPhysicalPartitions)).distinct.map(Int.box): _*)
      }.reduce(_ || _)
      val exactOr = sets.map { case (set, t) =>
        col("table") === t && col("bucket").isin(set.map(Int.box): _*)
      }.reduce(_ || _)
      layout.where(pruneOr && exactOr && userFilter)
        .drop("table", "bucket", "bucket_part")
        .dropDuplicates(idCol)
    }
    val exact = candidatesAt(0)
    val (candidates, used) =
      if (exact.count() >= k) (exact, "lsh")
      else {
        val widened = candidatesAt(1)
        if (widened.count() >= k) (widened, "lsh_mp1")
        else (layout.where(col("table") === 0 && userFilter)
          .drop("table", "bucket", "bucket_part"), "brute")
      }
    BruteForceKnn.search(candidates, col(embCol), col(idCol), query, k)
      .withColumn("index_used", lit(used))
  }
}

/** At-rest IVF layout: the clustered twin of [[LshIndexStore]]. One
  * pass assigns every row to its nearest centroid ([[IvfKnn.assign]] —
  * argmax cosine, first-max tie-break) and writes the corpus
  * partitioned by `cluster_id`; a probe for a query is a scan of the
  * `nprobe` best directories + exact rerank, so the read cost is
  * nprobe/nlist of the corpus with NO per-table storage multiplier
  * (the trade vs LSH: one layout, but candidate quality depends on the
  * centroids matching the corpus shape — see README's ANN decision
  * table, which recommends IVF exactly where embeddings are clustered).
  *
  * Storage is ×1 (vs LshIndexStore's ×T) and the layout key IS the
  * semantic cluster, so a 100 TB corpus reads nprobe directories per
  * query. `repartition(cluster_id)` before the write keeps each
  * directory one task's single file, not tasks × clusters slivers.
  */
final case class IvfIndexStore(cents: Array[(Long, Array[Float])]) {

  import IvfIndexStore.AppendStats

  def write(corpus: DataFrame, embCol: String, path: String): AppendStats = {
    // sibling-scoped retirement sweep on fresh-generation writes (r17,
    // same rationale as LshIndexStore.write)
    Option(new java.io.File(path).getParentFile)
      .foreach(p => IndexGenerations.sweep(p.getPath): Unit)
    val (rows, mean) = writeLayout(corpus, embCol, path, "overwrite")
    // persist the TRAINING-TIME baseline next to the layout (a `_`-
    // prefixed sidecar — FileIndex listing ignores it, the scans are
    // untouched) so later appends can compare against it without the
    // caller threading state
    val sidecar = java.nio.file.Paths.get(path, "_ivf_baseline")
    java.nio.file.Files.createDirectories(sidecar.getParent)
    // Double.toString, not printf: %.17g is LOCALE-DEPENDENT (a
    // comma-decimal default locale writes "0,66…", and readBaseline's
    // .toDouble then throws on every later append); toString is
    // locale-fixed and shortest-round-trip exact
    java.nio.file.Files.write(sidecar,
      mean.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    AppendStats(rows, mean, Some(mean))
  }

  /** Incremental maintenance, the [[LshIndexStore.append]] twin: assign
    * a DELTA of new rows with the SAME centroids and append its files
    * into the existing cluster directories. Assignment is a pure
    * per-row function of (centroids, embedding), so base ∪ delta
    * appended separately is row-identical to one full write — new rows
    * are probe-visible the moment the append commits, and ingest stays
    * O(delta) instead of an O(corpus) rebuild. The honest residual vs
    * LSH append: centroids are a TRAINED artifact — a delta whose
    * distribution drifts from the training corpus degrades recall
    * until re-clustering, which is the standard IVF contract (the
    * decision table's "continuous ingest, no re-clustering window" row
    * recommends LSH for exactly that reason).
    *
    * The returned [[IvfIndexStore.AppendStats]] carries the batch's
    * mean ASSIGNMENT cosine — IvfDriftProbe's measured online drift
    * trigger (r15: the probe found it; this wires it into the ingest
    * path so an OPERATOR alarms instead of a probe). It rides the
    * append job itself via `Dataset.observe` — the assignment loop
    * already computes the score, so the signal is free: no second
    * scan, no ground truth. Compare against the training-time baseline
    * with [[IvfIndexStore.AppendStats.reclusterAdvised]] (the decision
    * table's `< 0.8 × baseline` rule). */
  def append(delta: DataFrame, embCol: String, path: String): AppendStats = {
    val (rows, mean) = writeLayout(delta, embCol, path, "append")
    AppendStats(rows, mean, readBaseline(path))
  }

  /** Streaming ingest with the drift alarm surfaced per micro-batch —
    * the [[LshIndexStore.appendStream]] twin (IVF previously had no
    * streaming ingest at all) plus r15's trigger on every batch:
    * each micro-batch is assigned with the frozen centroids and
    * appended ([[append]] — O(batch), stats ride the job via
    * `Dataset.observe`), and `onBatch` receives the batch's
    * [[IvfIndexStore.AppendStats]] so an operator can alarm/page on
    * `reclusterAdvised()` instead of polling a probe. The callback
    * runs on the streaming thread after the append COMMITS — an
    * alarm can never fire for rows that didn't land. */
  def appendStream(rows: DataFrame, embCol: String, path: String,
                   checkpointDir: Option[String] = None,
                   onBatch: IvfIndexStore.AppendStats => Unit = _ => ())
  : org.apache.spark.sql.streaming.StreamingQuery = {
    var w = rows.writeStream.outputMode("append")
    checkpointDir.foreach(d => w = w.option("checkpointLocation", d))
    w.foreachBatch { (batch: DataFrame, _: Long) =>
      onBatch(append(batch, embCol, path))
    }.start()
  }

  private def readBaseline(path: String): Option[Double] = {
    val sidecar = java.nio.file.Paths.get(path, "_ivf_baseline")
    if (java.nio.file.Files.exists(sidecar))
      Some(new String(java.nio.file.Files.readAllBytes(sidecar),
        java.nio.charset.StandardCharsets.UTF_8).trim.toDouble)
    else None
  }

  private def writeLayout(corpus: DataFrame, embCol: String, path: String,
                          mode: String): (Long, Double) = {
    val obs = org.apache.spark.sql.Observation()
    IvfKnn.assignScored(corpus.where(col(embCol).isNotNull), col(embCol), cents)
      .observe(obs, avg(col("assign_cos")).as("mean_cos"),
        count(lit(1)).as("n"))
      .drop("assign_cos") // observed, never stored: layout bytes unchanged
      .repartition(col("cluster_id"))
      .write.mode(mode)
      .partitionBy("cluster_id")
      .parquet(path)
    val m = obs.get
    val rows = m("n").asInstanceOf[Long]
    val mean = m("mean_cos") match {
      case null => 0.0 // empty batch: no signal, callers see rows == 0
      case d: java.lang.Double => d.doubleValue()
    }
    (rows, mean)
  }

  /** The drift alarm's RESPONSE (the other half of
    * [[IvfIndexStore.AppendStats.reclusterAdvised]]): retrain
    * centroids on the layout's CURRENT contents — base plus every
    * appended delta, i.e. exactly the distribution the frozen
    * centroids stopped describing — and write a fresh layout at
    * `newPath` with a fresh training-time baseline. Returns the new
    * store (new centroids) and the new baseline stats; the caller
    * swaps serving to it by re-registering the new path
    * ([[graft.plans.LshProbeRewrite.registerIvf]]) and retiring the
    * old directory through [[IndexGenerations.retire]] — deletion is
    * deferred until in-flight read leases drain, and refused while the
    * old path is still registered — a NEW path rather than an in-place
    * overwrite because live FileIndexes hold the old file listing (the
    * same reason the engine's spill tier versions its segments). IvfDriftProbe priced this trade: retraining on
    * the combined corpus restores recall 1.0 at HALF the frozen
    * layout's scan fraction. Centroid sampling is
    * [[IvfKnn.centroids]]' deterministic stride rule, so the rebuilt
    * layout is reproducible from the bytes alone. */
  def recluster(spark: SparkSession, path: String, newPath: String,
                embCol: String, idColName: String,
                stride: Long): (IvfIndexStore, IvfIndexStore.AppendStats) = {
    require(normalize(newPath) != normalize(path),
      "recluster must write a NEW layout path — live readers hold the old file listing")
    val corpus = spark.read.parquet(path).drop("cluster_id")
    val cents2 = IvfKnn.centroids(corpus, col(idColName), col(embCol), stride)
    val store2 = IvfIndexStore(cents2)
    (store2, store2.write(corpus, embCol, newPath))
  }

  private def normalize(p: String): String =
    new java.io.File(p).getAbsolutePath.stripSuffix("/")

  /** Hand-built probe twin of the optimizer-rule path
    * ([[graft.plans.LshProbeRewrite.registerIvf]]): scan the nprobe
    * best cluster directories, exact rerank. */
  def search(spark: SparkSession, path: String, embCol: String, idCol: String,
             query: Array[Float], k: Int, nprobe: Int): DataFrame = {
    val probeIds = IvfKnn.rankClusters(query, cents).take(nprobe).map(_._1)
    val candidates = spark.read.parquet(path)
      .where(col("cluster_id").isin(probeIds.map(Long.box): _*))
      .drop("cluster_id")
    BruteForceKnn.search(candidates, col(embCol), col(idCol), query, k)
  }
}

object IvfIndexStore {

  /** Ingest-batch statistics emitted by [[IvfIndexStore.write]] /
    * [[IvfIndexStore.append]] — the drift trigger wired into the
    * ingest path (r15 open thread #4). `meanAssignCos` is the batch's
    * mean assignment cosine (free — the assignment loop computes it;
    * `Dataset.observe` collects it during the write job itself);
    * `baselineCos` is the training corpus's value, persisted by
    * [[IvfIndexStore.write]] in the `_ivf_baseline` sidecar (None when
    * appending into a layout written before the sidecar existed). */
  final case class AppendStats(rows: Long, meanAssignCos: Double,
                               baselineCos: Option[Double]) {

    /** The decision table's re-cluster rule: alarm when the batch's
      * mean assignment cosine falls below `factor` × the training-time
      * baseline (IvfDriftProbe: in-distribution batches sit AT the
      * baseline, fully-drifted ones at ~0.4× of it — 0.8 splits the
      * two regimes with margin on both sides). None when the layout
      * has no recorded baseline, or the batch was empty (no signal is
      * not a quiet signal). */
    def reclusterAdvised(factor: Double = 0.8): Option[Boolean] =
      baselineCos.collect { case b if rows > 0 => meanAssignCos < factor * b }
  }
}
