package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.index.RandomHyperplaneLsh

/** Incremental LSH maintenance invariant: bucketing an append-only
  * delta with the stored planes and unioning is bit-identical to
  * re-bucketing the full corpus — the property that makes
  * Queries.knnLshAppend answer knn_lsh's full-corpus oracle, and the
  * property a real ingest pipeline relies on to avoid O(corpus)
  * rebuilds per append.
  */
class IndexAppendSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private val sfDir = "/root/testdata/sf0.001"
  private val lsh = RandomHyperplaneLsh(8, 12, 42L)

  private def bucketed(df: org.apache.spark.sql.DataFrame) =
    lsh.withBuckets(df, VectorFunctions.l2Normalize(col("embedding")), 64)

  test("base ∪ delta bucketing equals one-pass full bucketing") {
    val emb = Tables.embeddings(spark, sfDir).where(col("embedding").isNotNull)
    val full = bucketed(emb)
      .select(col("vec_id"), col("buckets")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val incremental = bucketed(emb.where(col("vec_id") % 5 =!= 0))
      .unionByName(bucketed(emb.where(col("vec_id") % 5 === 0)))
      .select(col("vec_id"), col("buckets")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(incremental.size === full.size)
    assert(incremental === full)
  }

  test("query over the appended index equals the cached full index") {
    val appended = Queries.knnLshAppend(spark, sfDir).collect().toSeq
    val cached = Queries.knnLshCached(spark, sfDir).collect().toSeq
    assert(appended.nonEmpty)
    assert(appended === cached)
  }

  /** IVF's append analog: the codebook is FROZEN at build time and a
    * delta is assigned to the existing inverted lists — assignment is a
    * pure per-row argmax against the broadcast centroids, so
    * incremental assignment is bit-identical to a one-pass assignment
    * with the same codebook. (Unlike LSH, appending does NOT equal a
    * full rebuild: a rebuild would re-sample centroids from the grown
    * corpus. Codebook refresh is a periodic rebuild decision — the
    * classic IVF staleness trade — which is why the ingest path
    * freezes it.)
    */
  test("IVF delta assignment to a frozen codebook equals one-pass assignment") {
    import graft.index.IvfKnn
    val emb = Tables.embeddings(spark, sfDir).where(col("embedding").isNotNull)
    val base = emb.where(col("vec_id") % 5 =!= 0)
    val delta = emb.where(col("vec_id") % 5 === 0)
    val cents = IvfKnn.centroids(base, col("vec_id"), col("embedding"), 53L)
    assert(cents.nonEmpty)
    def asgn(df: org.apache.spark.sql.DataFrame) =
      IvfKnn.assign(df, col("embedding"), cents)
        .select(col("vec_id"), col("cluster_id")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val onePass = asgn(emb)
    val incremental = asgn(base) ++ asgn(delta)
    assert(incremental === onePass)
  }

  /** The drift trigger wired into ingest (r15 open thread #4): every
    * write/append emits the batch's mean assignment cosine via
    * Dataset.observe — free, the assignment loop computes it — and
    * reclusterAdvised compares against the persisted training-time
    * baseline with the decision table's 0.8× rule. Loud side here
    * (a fully drifted delta trips it); quiet side pinned inside the
    * ann_ivf_append gate (in-distribution delta must NOT trip). */
  test("IVF append emits the drift signal: drifted delta alarms, in-dist does not") {
    // the trigger's regimes are a property of CLUSTERED corpora (the
    // only shape the decision table recommends IVF for — on isotropic
    // random vectors the baseline itself sits at ~0.18 and drift
    // barely moves it), so this test uses the probe's mixture family:
    // 25 unit-norm centers, σ=0.1; the drifted delta is the SAME
    // mixture shape with MOVED means (a different center seed)
    import graft.index.{IvfIndexStore, IvfKnn}
    import spark.implicits._
    val dim = 64
    def mixture(centerSeed: Long, ids: Range, idOffset: Long): org.apache.spark.sql.DataFrame =
      ids.map { i =>
        val c = i % 25
        val center = Array.tabulate(dim)(j => Fixtures.gauss(centerSeed + c, j))
        val cn = math.sqrt(center.map(x => x * x).sum)
        (idOffset + i, Array.tabulate(dim)(j =>
          (center(j) / cn + 0.1 * Fixtures.gauss(0xBEEFL + idOffset + i, j)).toFloat))
      }.toDF("vec_id", "embedding")
    val base = mixture(0xC0FFEEL, 0 until 2000, 0L)
    val cents = IvfKnn.centroids(base, col("vec_id"), col("embedding"), 53L)
    assert(cents.length >= 10, s"stride sample too thin: ${cents.length}")
    val store = IvfIndexStore(cents)
    val p = "target/spec-index/ivf-drift-spec"
    TestSpark.rmTree(new java.io.File(p))
    val wrote = store.write(base, "embedding", p)
    assert(wrote.rows == 2000 && wrote.baselineCos.contains(wrote.meanAssignCos))
    // in-distribution delta: same centers, new ids -> mean at baseline
    val quiet = store.append(mixture(0xC0FFEEL, 0 until 400, 10000L), "embedding", p)
    assert(quiet.rows == 400)
    assert(quiet.reclusterAdvised().contains(false),
      s"in-distribution delta tripped the alarm: $quiet")
    // fully drifted delta: moved means -> mean well below 0.8x baseline.
    // Substantial on purpose (the probe's regime): the recluster check
    // below needs the stride sample of the combined corpus to cover
    // the drifted family's 25 clusters, which a token delta cannot
    val loud = store.append(mixture(0xD00DL, 0 until 2000, 20000L), "embedding", p)
    assert(loud.rows == 2000)
    assert(loud.meanAssignCos < quiet.meanAssignCos,
      s"drifted mean ${loud.meanAssignCos} not below in-dist ${quiet.meanAssignCos}")
    assert(loud.reclusterAdvised().contains(true),
      s"fully drifted delta did not trip the alarm: $loud")
    // the RESPONSE closes the loop: recluster on the combined layout
    // (base + in-dist delta + drifted delta) -> new centroids describe
    // BOTH families, the baseline refreshes, and the same drifted
    // family that tripped the old layout's alarm is now in-distribution
    val p2 = "target/spec-index/ivf-drift-spec-v2"
    TestSpark.rmTree(new java.io.File(p2))
    val (store2, rebuilt) = store.recluster(spark, p, p2, "embedding", "vec_id", 53L)
    assert(rebuilt.rows == wrote.rows + quiet.rows + loud.rows,
      s"recluster dropped rows: ${rebuilt.rows}")
    assert(rebuilt.meanAssignCos > loud.meanAssignCos,
      "retrained centroids do not describe the drifted family better than frozen ones")
    val after = store2.append(mixture(0xD00DL, 0 until 400, 40000L), "embedding", p2)
    assert(after.reclusterAdvised().contains(false),
      s"post-recluster append of the formerly-drifted family still alarms: $after")
    // and an in-place recluster is refused loudly
    intercept[IllegalArgumentException] {
      store.recluster(spark, p, p, "embedding", "vec_id", 53L)
    }
    // no-signal cases are None, never a quiet false
    val empty = store.append(base.where(col("vec_id") < 0), "embedding", p)
    assert(empty.rows == 0 && empty.reclusterAdvised().isEmpty)
    val nbPath = "target/spec-index/ivf-drift-nobase"
    TestSpark.rmTree(new java.io.File(nbPath))
    val noBaseline = IvfIndexStore(cents)
      .append(mixture(0xD00DL, 0 until 50, 30000L), "embedding", nbPath)
    assert(noBaseline.reclusterAdvised().isEmpty)
  }
}
