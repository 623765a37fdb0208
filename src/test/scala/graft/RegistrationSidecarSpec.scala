package graft

import graft.expressions.CosineSimilarity
import graft.index.{LshIndexStore, RandomHyperplaneLsh}
import graft.plans.LshProbeRewrite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The `_registration` sidecar (r16 stretch; r15 verdict #7): a
  * registration — the layout's SERVING POLICY — persists inside the
  * layout it describes, so a fresh JVM restores serving with
  * `spark.read.parquet(path)` + one `registerFromSidecar(path)` call
  * instead of re-deriving seeds/centroids/codebooks from code.
  * `clear()` plays the fresh JVM here: the registry is the only
  * in-memory state the restore path depends on.
  */
class RegistrationSidecarSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def withRule[A](f: => A): A = {
    LshProbeRewrite.inject(spark)
    try f
    finally LshProbeRewrite.clear()
  }

  private lazy val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    .where(col("embedding").isNotNull)

  test("LSH: register -> fresh registry -> restore from sidecar -> rule fires, policy intact") {
    withRule {
      LshProbeRewrite.clear()
      val path = "target/test-index/sidecar-lsh"
      TestSpark.rmTree(new java.io.File(path))
      val lsh = RandomHyperplaneLsh(8, 12, 42L)
      LshIndexStore(lsh, 64).write(emb, "embedding", path)
      LshProbeRewrite.register(path, lsh, 64, maxHamming = 1, guaranteeK = true)
      assert(new java.io.File(path, "_registration").exists(),
        "register must persist the sidecar into the existing layout")
      val q = Queries.queryVec(spark, "/root/testdata/sf0.001")
      def topk = spark.read.parquet(path)
        .withColumn("score", CosineSimilarity(col("embedding"), typedlit(q.toSeq)))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(5)
      val before = topk.select("vec_id", "score").as[(Long, Double)].collect().toSeq
      assert(topk.queryExecution.optimizedPlan.toString.contains("LshProbeTopK"))

      LshProbeRewrite.clear() // the fresh JVM
      assert(!topk.queryExecution.optimizedPlan.toString.contains("LshProbeTopK"))
      assert(LshProbeRewrite.registerFromSidecar(path) == "lsh")
      // the FULL policy came back, flags included (case-class equality)
      assert(LshProbeRewrite.registrationOf(path).contains(
        LshProbeRewrite.Registration(lsh, 64, 256, maxHamming = 1, guaranteeK = true)))
      assert(topk.queryExecution.optimizedPlan.toString.contains("LshProbeTopK"))
      val after = topk.select("vec_id", "score").as[(Long, Double)].collect().toSeq
      assert(after == before, s"restored serving diverged: $after vs $before")
    }
  }

  test("IVF: restored centroids are float-exact and serve identically") {
    withRule {
      LshProbeRewrite.clear()
      val path = "target/test-index/sidecar-ivf"
      TestSpark.rmTree(new java.io.File(path))
      val cents = graft.index.IvfKnn.centroids(
        emb, col("vec_id"), col("embedding"), stride = 7L)
      graft.index.IvfIndexStore(cents).write(emb, "embedding", path)
      LshProbeRewrite.registerIvf(path, cents, nprobe = 2)
      val q = Queries.queryVec(spark, "/root/testdata/sf0.001")
      def topk = spark.read.parquet(path)
        .withColumn("score", CosineSimilarity(col("embedding"), typedlit(q.toSeq)))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(5)
      val before = topk.select("vec_id", "score").as[(Long, Double)].collect().toSeq
      LshProbeRewrite.clear()
      assert(LshProbeRewrite.registerFromSidecar(path) == "ivf")
      LshProbeRewrite.registrationOf(path) match {
        case Some(LshProbeRewrite.IvfRegistration(cents2, nprobe, false)) =>
          assert(nprobe == 2)
          assert(cents2.map(_._1).toSeq == cents.map(_._1).toSeq)
          cents.zip(cents2).foreach { case ((_, a), (_, b)) =>
            assert(a.toSeq == b.toSeq, "centroid floats must round-trip exactly")
          }
        case other => fail(s"wrong restored kind: $other")
      }
      val after = topk.select("vec_id", "score").as[(Long, Double)].collect().toSeq
      assert(after == before)
    }
  }

  test("PQ / SQ8 / IVF-PQ sidecars round-trip their trained constants exactly") {
    withRule {
      LshProbeRewrite.clear()
      val cb = graft.index.PqKnn.train(emb, col("vec_id"), col("embedding"), dim = 64)
      val scales = graft.index.SqKnn.trainScales(emb, col("embedding"), dim = 64)
      val cents = graft.index.IvfKnn.centroids(
        emb, col("vec_id"), col("embedding"), stride = 7L)
      def dir(tag: String): String = {
        val d = s"target/test-index/sidecar-$tag"
        TestSpark.rmTree(new java.io.File(d))
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        d
      }
      val pqPath = dir("pq")
      LshProbeRewrite.registerPq(pqPath, cb, shortlist = 77, idColName = "the_id")
      val sqPath = dir("sq8")
      LshProbeRewrite.registerSq8(sqPath, scales, shortlist = 33)
      val ivfpqPath = dir("ivfpq")
      LshProbeRewrite.registerIvfPq(ivfpqPath, cents, nprobe = 3, cb, shortlist = 55)
      LshProbeRewrite.clear()

      assert(LshProbeRewrite.registerFromSidecar(pqPath) == "pq")
      LshProbeRewrite.registrationOf(pqPath) match {
        case Some(LshProbeRewrite.PqRegistration(cb2, 77, "the_id")) =>
          assert(cb2.dim == cb.dim && cb2.m == cb.m && cb2.k == cb.k)
          assert(cb2.cents.flatten.map(_.toSeq).toSeq ==
            cb.cents.flatten.map(_.toSeq).toSeq, "codebook floats must round-trip")
        case other => fail(s"wrong restored PQ registration: $other")
      }
      assert(LshProbeRewrite.registerFromSidecar(sqPath) == "sq8")
      LshProbeRewrite.registrationOf(sqPath) match {
        case Some(LshProbeRewrite.Sq8Registration(scales2, 33, "vec_id")) =>
          assert(scales2.toSeq == scales.toSeq, "scales must round-trip exactly")
        case other => fail(s"wrong restored SQ8 registration: $other")
      }
      assert(LshProbeRewrite.registerFromSidecar(ivfpqPath) == "ivfpq")
      LshProbeRewrite.registrationOf(ivfpqPath) match {
        case Some(LshProbeRewrite.IvfPqRegistration(cents2, 3, cb2, 55, "vec_id", 10000, false)) =>
          assert(cents2.map(_._1).toSeq == cents.map(_._1).toSeq)
          assert(cb2.cents.flatten.map(_.toSeq).toSeq ==
            cb.cents.flatten.map(_.toSeq).toSeq)
        case other => fail(s"wrong restored IVF-PQ registration: $other")
      }
    }
  }

  test("a missing or garbled sidecar fails loud, never a quiet exact-scan") {
    val none = "target/test-index/sidecar-none"
    TestSpark.rmTree(new java.io.File(none))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(none))
    intercept[java.io.IOException](LshProbeRewrite.registerFromSidecar(none))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(none, "_registration"),
      """{"kind":"zorp"}""".getBytes)
    val e = intercept[RuntimeException](LshProbeRewrite.registerFromSidecar(none))
    assert(e.getMessage.contains("zorp"))
  }
}
