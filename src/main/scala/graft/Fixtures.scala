package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic corpora shared by the clustered ANN gate fixture
  * ([[Queries]]) and the index specs. Real embedding spaces are
  * CLUSTERED, while the generated sf-dir vectors are isotropic random
  * (LSH's and IVF's worst case), so recall on a clustered tier needs
  * its own corpus. The clustered gate's oracle hashes these exact
  * bytes: any change to the generator needs a
  * `Queries.clusteredFixtureGen` bump.
  */
object Fixtures {

  private def splitmix(x0: Long): Long = graft.functions.TextFunctions.splitmix64(x0)

  private[graft] def gauss(seed: Long, i: Int): Double = {
    def unit(s: Long): Double =
      ((splitmix(s) >>> 11).toDouble / (1L << 53).toDouble).max(1e-12)
    math.sqrt(-2.0 * math.log(unit(seed * 0x100000001B3L + 2L * i))) *
      math.cos(2 * math.Pi * unit(seed * 0x100000001B3L + 2L * i + 1))
  }

  /** Deterministic mixture-of-Gaussians corpus: `clusters` unit-norm
    * centers (seeded per cluster id), each point = its cluster's center
    * + σ·N(0, I) noise (seeded per row id) — the shape real encoder
    * output has. No RNG object: splitmix64 streams keyed on ids, so any
    * partitioning of the range yields the identical corpus.
    */
  private[graft] def gaussianMixture(spark: SparkSession, n: Long, dim: Int,
                                     clusters: Int, sigma: Double): DataFrame = {
    val mkVec = udf { (id: Long) =>
      val c = id % clusters
      val center = Array.tabulate(dim)(i => gauss(0xC0FFEEL + c, i))
      val cn = math.sqrt(center.map(x => x * x).sum)
      Array.tabulate(dim)(i => (center(i) / cn + sigma * gauss(0xBEEFL + id, i)).toFloat)
    }
    spark.range(n).select(col("id").as("vec_id"), mkVec(col("id")).as("embedding"))
  }
}
