package graft.index

import graft.expressions.LshBucketProbe
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Random-hyperplane (sign-bit) LSH for cosine similarity — the
  * reference's `LSHIndex` (app/indexing/lsh.py:19-95) re-expressed for
  * Spark.
  *
  * Parity-relevant semantics:
  *  - T tables × P Gaussian hyperplanes, seeded, plane vectors
  *    unit-normalized (lsh.py:44-52). Planes are generated ON THE
  *    DRIVER with a seeded RNG and shipped to executors as a literal /
  *    closure constant — never `rand()` in executors, so every
  *    partition sees identical planes and the bucketing is
  *    deterministic across runs and cluster sizes.
  *  - hash = P-bit integer, bit i set iff dot(v, plane_i) >= 0
  *    (lsh.py:58-64);
  *  - probe = union of the query's bucket across the T tables
  *    (set-union, lsh.py:80-83), then EXACT cosine rerank of the
  *    candidates and top-k (lsh.py:88-95);
  *  - adaptive fallback: if LSH yields 0 hits and the corpus has
  *    <= 10,000 rows, rerun brute force and report
  *    `index_used = "brute"` (search_service.py:127-131).
  *
  * Scale shape: the candidate probe is one predicate over the
  * precomputed per-table bucket array ([[candidateFilter]]) — a
  * filtered scan, no shuffle, no explode (row count never multiplies
  * by T). At 100 TB the bucketed table would be written partitioned
  * by (table-0 bucket) so the probe prunes files; the rerank is
  * TakeOrderedAndProject over C << N candidates.
  *
  * We deliberately do NOT reproduce Python's Mersenne-Twister Gaussian
  * stream; we keep our own seeded stream (java.util.Random) and assert
  * the reference's *properties* (determinism, LSH hits ⊆ brute hits
  * with equal scores, fallback) — see SURVEY §7.4.
  */
final case class RandomHyperplaneLsh(
    numTables: Int = 8,
    numPlanes: Int = 12,
    seed: Long = 42L) {
  require(numTables >= 1, s"numTables $numTables must be at least 1")
  // a bucket id is an Int with one bit per plane: bit 31 is the sign
  // and 1 << 32 wraps to bit 0, folding planes onto each other
  require(numPlanes >= 1 && numPlanes <= 31, s"numPlanes $numPlanes must be in 1..31")

  /** planes(t)(p) is a unit-normalized hyperplane in R^dim. */
  def planes(dim: Int): Array[Array[Array[Float]]] = {
    val rng = new java.util.Random(seed)
    Array.fill(numTables) {
      Array.fill(numPlanes) {
        val v = Array.fill(dim)(rng.nextGaussian())
        val n = math.sqrt(v.map(x => x * x).sum)
        val u = if (n == 0.0) v else v.map(_ / n)
        u.map(_.toFloat)
      }
    }
  }

  /** Sign-bit hash of one vector against one table's planes. */
  def hash(v0: collection.Seq[Float], tablePlanes: Array[Array[Float]]): Int = {
    val v = VectorFunctions.toArr(v0) // O(1) indexing regardless of Seq runtime type
    var bits = 0
    var p = 0
    while (p < tablePlanes.length) {
      val plane = tablePlanes(p)
      var acc = 0.0
      var i = 0
      val n = math.min(v.length, plane.length)
      while (i < n) { acc += v(i).toDouble * plane(i).toDouble; i += 1 }
      if (acc >= 0.0) bits |= (1 << p)
      p += 1
    }
    bits
  }

  /** Add `buckets ARRAY<INT>` (one bucket id per table). The planes
    * array rides inside the UDF closure — broadcast once per task set.
    */
  def withBuckets(df: DataFrame, embCol: Column, dim: Int): DataFrame = {
    val ps = planes(dim)
    val bucketUdf = udf { (v0: collection.Seq[Float]) =>
      if (v0 == null) null
      else {
        val v = VectorFunctions.toArr(v0) // convert once, not once per table
        ps.map(tp => hash(v, tp))
      }
    }
    df.withColumn("buckets", bucketUdf(embCol))
  }

  /** Candidate filter: any table's bucket matches the query's bucket in
    * that table — the set-union across tables of lsh.py:80-83, one
    * [[graft.expressions.LshBucketProbe]] over the `buckets` column
    * (each row appears at most once; no dedup needed). The buckets are
    * the predicate's data, so every query runs the same generated code.
    */
  def candidateFilter(queryBuckets: Array[Int]): Column =
    LshBucketProbe(col("buckets"), probeSets(queryBuckets, maxHamming = 0))

  /** The probed buckets per table: the query's own bucket, plus, with
    * `maxHamming = 1` (1-bit multi-probe), every bucket one sign flip
    * away. Only 0 and 1 are supported: the 1-bit ball is numPlanes + 1
    * buckets per table, and wider balls grow combinatorially. */
  def probeSets(queryBuckets: Array[Int], maxHamming: Int): Seq[Seq[Int]] = {
    require(maxHamming == 0 || maxHamming == 1, s"maxHamming $maxHamming: only 0 or 1 supported")
    queryBuckets.toSeq.map(b =>
      if (maxHamming == 0) Seq(b) else b +: (0 until numPlanes).map(p => b ^ (1 << p)))
  }

  /** Single-pass candidate predicate for a TRANSIENT probe (no at-rest
    * bucket column): hash the raw embedding per table inside ONE boolean
    * UDF, short-circuiting on the first table within `maxHamming` bit
    * flips of the query's bucket. Hashing the raw vector is exact: sign
    * bits are scale-invariant, and the zero vector hashes identically
    * raw or "normalized" (the reference leaves it unchanged).
    *
    * Why not `candidateFilter` over [[withBuckets]] here: a filter
    * expression that references the bucket column T times makes Catalyst
    * collapse the projection and re-evaluate the full T-table hash UDF
    * once PER TERM — T× redundant work (measured 7× slower at T=8).
    * `candidateFilter` remains the right probe for an at-rest bucketed
    * layout, where `buckets` is materialized data, not an expression.
    */
  def candidateMatch(embCol: Column, qBuckets: Array[Int], dim: Int,
                     maxHamming: Int = 0): Column = {
    val ps = planes(dim)
    val matchUdf = udf { (v0: collection.Seq[Float]) =>
      if (v0 == null) false
      else {
        // hash the FLOAT-NORMALIZED vector, exactly like the at-rest
        // bucketed path (withBuckets ∘ l2Normalize): sign bits are
        // scale-invariant in the reals but not at float rounding
        // boundaries (|dot| ≈ 0), and the two paths must agree
        // bit-for-bit on bucket membership.
        val v = VectorFunctions.toArr(v0)
        val n = {
          var acc = 0.0; var i = 0
          while (i < v.length) { acc += v(i).toDouble * v(i).toDouble; i += 1 }
          math.sqrt(acc)
        }
        val vn: Array[Float] =
          if (n == 0.0) v
          else {
            val out = new Array[Float](v.length)
            var i = 0
            while (i < v.length) { out(i) = (v(i).toDouble / n).toFloat; i += 1 }
            out
          }
        var t = 0
        var found = false
        while (t < ps.length && !found) {
          if (Integer.bitCount(hash(vn, ps(t)) ^ qBuckets(t)) <= maxHamming) found = true
          t += 1
        }
        found
      }
    }
    matchUdf(embCol)
  }

  /** [[search]] with 1-bit multi-probe expansion. */
  def searchMultiProbe(chunks: DataFrame, embCol: Column, idCol: Column,
                       query: Array[Float], k: Int): DataFrame = {
    val withEmb = chunks.where(embCol.isNotNull)
    if (k <= 0) return withEmb.limit(0)
    val dim = query.length
    val qBuckets = queryBuckets(query, dim)
    withEmb
      .where(candidateMatch(embCol, qBuckets, dim, maxHamming = 1))
      .withColumn("score", VectorFunctions.cosine(embCol, typedlit(query.toSeq)))
      .orderBy(col("score").desc, idCol.asc)
      .limit(k)
  }

  /** The query's bucket per table (query normalized for exactness —
    * lsh.py:54-55 hashes normalized vectors; equivalent for rows). */
  def queryBuckets(query: Array[Float], dim: Int): Array[Int] = {
    val ps = planes(dim)
    val n = math.sqrt(query.map(x => x.toDouble * x.toDouble).sum)
    val qNorm = if (n == 0.0) query else query.map(x => (x / n).toFloat)
    ps.map(tp => hash(qNorm.toSeq, tp))
  }

  /** LSH probe + exact rerank. Returns (hits, indexUsed). Fallback to
    * brute force when 0 candidates and the corpus is small
    * (search_service.py:127-131).
    */
  def search(chunks: DataFrame, embCol: Column, idCol: Column,
             query: Array[Float], k: Int,
             fallbackThreshold: Long = 10000L): (DataFrame, String) = {
    val withEmb = chunks.where(embCol.isNotNull)
    if (k <= 0) return (withEmb.limit(0), "lsh")
    val dim = query.length
    val qBuckets = queryBuckets(query, dim)
    val candidates = withEmb.where(candidateMatch(embCol, qBuckets, dim))
    probeWithFallback(candidates, withEmb, embCol, idCol, query, k, fallbackThreshold)
  }

  /** Probe a PRE-BUCKETED frame (a cached/at-rest layout carrying the
    * `buckets` column — e.g. [[IndexCache]] output): filter on the
    * stored buckets (no hashing at query time), exact rerank, same
    * fallback semantics as [[search]].
    */
  def searchBucketed(bucketed: DataFrame, embCol: Column, idCol: Column,
                     query: Array[Float], k: Int,
                     fallbackThreshold: Long = 10000L): (DataFrame, String) = {
    val corpus = bucketed.drop("buckets")
    if (k <= 0) return (corpus.limit(0), "lsh")
    val qBuckets = queryBuckets(query, query.length)
    val candidates = bucketed.where(candidateFilter(qBuckets)).drop("buckets")
    probeWithFallback(candidates, corpus, embCol, idCol, query, k, fallbackThreshold)
  }

  /** Shared tail: exact rerank of `candidates`, brute fallback over
    * `corpus` when the probe comes back empty and the corpus is small.
    * Materializes the <= k hit rows once (one TakeOrderedAndProject
    * job) so the empty-check and the returned frame don't re-probe.
    */
  private def probeWithFallback(candidates: DataFrame, corpus: DataFrame,
                                embCol: Column, idCol: Column, query: Array[Float],
                                k: Int, fallbackThreshold: Long): (DataFrame, String) = {
    val hits = candidates
      .withColumn("score", VectorFunctions.cosine(embCol, typedlit(query.toSeq)))
      .orderBy(col("score").desc, idCol.asc)
      .limit(k)
    val hitRows = hits.collect()
    if (hitRows.isEmpty && corpus.limit((fallbackThreshold + 1).toInt).count() <= fallbackThreshold)
      (BruteForceKnn.search(corpus, embCol, idCol, query, k), "brute")
    else {
      val spark = candidates.sparkSession
      (spark.createDataFrame(java.util.Arrays.asList(hitRows: _*), hits.schema), "lsh")
    }
  }
}
