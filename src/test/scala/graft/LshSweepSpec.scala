package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The clustered-recall tier's corpus generator: the sweep's numbers
  * are only comparable across runs/machines if the corpus is a pure
  * function of (n, dim, clusters, sigma) — no RNG object, no
  * partitioning dependence.
  */
class LshSweepSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("gaussianMixture is deterministic and partitioning-invariant") {
    def corpus(parts: Int) =
      Fixtures.gaussianMixture(spark, 200, 16, 10, 0.08)
        .repartition(parts)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    val a = corpus(1)
    val b = corpus(7)
    assert(a == b, "corpus must not depend on partitioning")
    assert(a.map(_._1) == (0L until 200L))
    assert(a.forall(_._2.length == 16))
  }

  test("gaussianMixture clusters are tight at small sigma: same-cluster cosine beats cross") {
    val rows = Fixtures.gaussianMixture(spark, 100, 32, 5, 0.05)
      .as[(Long, Seq[Float])].collect().toSeq
      .map { case (id, v) => (id % 5, v.toArray) }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    val same = for (Seq((ca, va), (cb, vb)) <- rows.combinations(2).toSeq if ca == cb)
      yield cos(va, vb)
    val cross = for (Seq((ca, va), (cb, vb)) <- rows.combinations(2).toSeq if ca != cb)
      yield cos(va, vb)
    assert(same.min > cross.max,
      f"clusters not separated: same-min=${same.min}%.3f cross-max=${cross.max}%.3f")
  }
}
