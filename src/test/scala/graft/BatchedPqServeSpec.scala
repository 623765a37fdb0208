package graft

import graft.index.{BruteForceKnn, PqIndexStore, PqKnn}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Batched split-PQ serving: per-request ADC LUTs in-plan, one codes
  * scan per request set, ShortlistFetch for the union fetch, exact
  * per-request rerank.
  */
class BatchedPqServeSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private def emb = Tables.embeddings(spark, sfDir).where(col("embedding").isNotNull)

  test("PqLut column equals the driver-built adcTable bit-exactly") {
    val cb = PqKnn.train(emb, col("vec_id"), col("embedding"), dim = 64)
    val got = emb.where(col("vec_id") < 3)
      .select(col("vec_id"), org.apache.spark.sql.graft.SqlShims.column(
        graft.expressions.PqLut(
          org.apache.spark.sql.graft.SqlShims.expression(col("embedding")),
          cb.cents, cb.subDim, cb.k)).as("lut"))
      .as[(Long, Array[Double])].collect().toMap
    emb.where(col("vec_id") < 3).select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().foreach { case (id, v) =>
        val want = PqKnn.adcTable(v, cb)
        val flat = got(id)
        for (s <- want.indices; c <- want(s).indices)
          assert(flat(s * cb.k + c) == want(s)(c),
            s"LUT mismatch at vec $id sub $s cent $c")
      }
  }

  test("batched split serve equals per-request exact brute (self excluded) and stages through ShortlistFetch") {
    val p = "target/test-index/batched-pq-split"
    TestSpark.rmTree(new java.io.File(p))
    val store = PqIndexStore()
    store.writeSplit(emb, col("vec_id"), col("embedding"), dim = 64, p)
    val requests = emb.where(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding"))
    val served = store.serveBatchedSplit(spark, p, requests,
      "vec_id", "embedding", k = 5, dim = 64, candidates = 100)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("ShortlistFetch"), plan.take(2000))
    assert(plan.contains("adc_score_dyn"), plan.take(2000))
    val got = served
      .select(col("q_id"), col("rn"), col("neighbor_id"), round(col("cos"), 6).as("c"))
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    // independent per-request expectation: exact brute over the raw
    // corpus, self excluded — the wide-shortlist equivalence argument
    val want = requests.as[(Long, Array[Float])].collect().sortBy(_._1).toSeq.flatMap {
      case (qid, qv) =>
        BruteForceKnn.search(emb.where(col("vec_id") =!= qid),
            col("embedding"), col("vec_id"), qv, 5)
          .select(col("vec_id"), round(col("score"), 6).as("s"))
          .as[(Long, Double)].collect().toSeq.zipWithIndex
          .map { case ((nid, s), i) => (qid, i + 1, nid, s) }
    }
    assert(got == want, s"batched PQ serve diverges from brute:\n$got\nvs\n$want")
  }

  test("the batched declaration over registered floats rewrites to the staged batched serve") {
    graft.plans.LshProbeRewrite.inject(spark)
    val p = "target/test-index/batched-pq-split" // built by the earlier test
    val store = PqIndexStore()
    val cb = store.loadCodebooks(spark, p, dim = 64)
    import org.apache.spark.sql.expressions.{Window => W}
    try {
      graft.plans.LshProbeRewrite.clear()
      graft.plans.LshProbeRewrite.registerPqSplit(spark, p, cb, shortlist = 100)
      val requests = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val declared = requests
        .crossJoin(spark.read.parquet(s"$p/floats"))
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("cos", graft.expressions.CosineSimilarity(col("embedding"), col("q_emb")))
        .withColumn("rn", row_number().over(W.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id").asc)))
        .where(col("rn") <= 5)
        .select(col("q_id"), col("rn"), col("vec_id").as("neighbor_id"), col("cos"))
      val plan = declared.queryExecution.optimizedPlan.toString
      assert(plan.contains("ShortlistFetch") && plan.contains("adc_score_dyn"),
        s"pq_split batched rewrite did not fire:\n${plan.take(2500)}")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("q_id"), col("rn"), col("neighbor_id"), round(col("cos"), 6))
          .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
      val want = rows(store.serveBatchedSplit(spark, p,
        emb.where(col("vec_id") < 5).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 5, dim = 64, candidates = 100))
      assert(rows(declared) == want,
        "rule-served batched PQ diverges from the library serve")
    } finally graft.plans.LshProbeRewrite.clear()
  }

  test("batched IVF-PQ serve equals per-request exact IVF and the rule rewrites the declaration") {
    import graft.index.IvfKnn
    // the composed kind (r17): coarse probe per request + staged ADC +
    // union fetch + exact rerank, one plan per request set — equality
    // target is the EXACT IVF search per request (same coarse
    // quantizer, same nprobe), the searchIvfPqRefined equivalence
    val cents = IvfKnn.centroids(emb, col("vec_id"), col("embedding"), 53L)
    val cb = PqKnn.train(emb, col("vec_id"), col("embedding"), dim = 64)
    val p = "target/test-index/batched-ivfpq"
    TestSpark.rmTree(new java.io.File(p))
    val codes = PqKnn.encode(emb, col("vec_id"), col("embedding"), cb)
      .withColumnRenamed("id", "vec_id")
    IvfKnn.assign(emb, col("embedding"), cents)
      .select(col("vec_id"), col("embedding"), col("cluster_id"))
      .join(codes, "vec_id")
      .repartition(col("cluster_id"))
      .write.mode("overwrite").partitionBy("cluster_id").parquet(p)
    val layout = spark.read.parquet(p)
    val requests = emb.where(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding"))
    val served = PqKnn.serveBatchedIvfPq(spark, layout, cents, nprobe = 2, cb,
      requests, "vec_id", "embedding", k = 5, candidates = 300)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("ShortlistFetch") && plan.contains("adc_score_dyn"),
      plan.take(2000))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("q_id"), col("rn"), col("neighbor_id"), round(col("cos"), 6))
        .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val got = rows(served)
    // per-request expectation: exact cosine top-5 within each request's
    // own top-2 probed clusters, self excluded
    val assigned = IvfKnn.assign(emb, col("embedding"), cents)
    val want = requests.as[(Long, Array[Float])].collect().sortBy(_._1).toSeq.flatMap {
      case (qid, qv) =>
        val probeIds = IvfKnn.rankClusters(qv, cents).take(2).map(_._1)
        BruteForceKnn.search(
            assigned.where(col("cluster_id").isin(probeIds.map(Long.box): _*) &&
              col("vec_id") =!= qid),
            col("embedding"), col("vec_id"), qv, 5)
          .select(col("vec_id"), round(col("score"), 6).as("s"))
          .as[(Long, Double)].collect().toSeq.zipWithIndex
          .map { case ((nid, sc), i) => (qid, i + 1, nid, sc) }
    }
    assert(got == want, s"batched IVF-PQ serve diverges from exact IVF:\n$got\nvs\n$want")
    // and through the rule: the declared cross join rewrites
    graft.plans.LshProbeRewrite.inject(spark)
    import org.apache.spark.sql.expressions.{Window => W}
    try {
      graft.plans.LshProbeRewrite.clear()
      graft.plans.LshProbeRewrite.registerIvfPq(p, cents, nprobe = 2, cb,
        shortlist = 300)
      val declared = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        .crossJoin(layout)
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("cos", graft.expressions.CosineSimilarity(col("embedding"), col("q_emb")))
        .withColumn("rn", row_number().over(W.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id").asc)))
        .where(col("rn") <= 5)
        .select(col("q_id"), col("rn"), col("vec_id").as("neighbor_id"), col("cos"))
      val rplan = declared.queryExecution.optimizedPlan.toString
      assert(rplan.contains("ShortlistFetch") && rplan.contains("adc_score_dyn"),
        s"ivfpq batched rewrite did not fire:\n${rplan.take(2500)}")
      assert(rows(declared) == want,
        "rule-served batched IVF-PQ diverges from exact IVF")
    } finally graft.plans.LshProbeRewrite.clear()
  }

  test("batched SQ8 serve equals per-request exact brute and the rule rewrites the declaration") {
    import graft.index.SqKnn
    val scales = SqKnn.trainScales(emb, col("embedding"), dim = 64)
    val p = "target/test-index/batched-sq8"
    TestSpark.rmTree(new java.io.File(p))
    val codes = SqKnn.encode(emb, col("vec_id"), col("embedding"), scales)
      .withColumnRenamed("id", "vec_id")
    emb.select(col("vec_id"), col("embedding")).join(codes, "vec_id")
      .write.mode("overwrite").parquet(p)
    val layout = spark.read.parquet(p)
    val requests = emb.where(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding"))
    val served = SqKnn.serveBatched(spark, layout, scales, requests,
      "vec_id", "embedding", k = 5, candidates = 100)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("ShortlistFetch") && plan.contains("byte_dot_dyn"),
      plan.take(2000))
    val got = served
      .select(col("q_id"), col("rn"), col("neighbor_id"), round(col("cos"), 6).as("c"))
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val want = requests.as[(Long, Array[Float])].collect().sortBy(_._1).toSeq.flatMap {
      case (qid, qv) =>
        graft.index.BruteForceKnn.search(emb.where(col("vec_id") =!= qid),
            col("embedding"), col("vec_id"), qv, 5)
          .select(col("vec_id"), round(col("score"), 6).as("s"))
          .as[(Long, Double)].collect().toSeq.zipWithIndex
          .map { case ((nid, s), i) => (qid, i + 1, nid, s) }
    }
    assert(got == want, s"batched SQ8 serve diverges from brute:\n$got\nvs\n$want")

    // the declared batched shape over the registered fused table
    graft.plans.LshProbeRewrite.inject(spark)
    import org.apache.spark.sql.expressions.{Window => W}
    try {
      graft.plans.LshProbeRewrite.clear()
      graft.plans.LshProbeRewrite.registerSq8(p, scales, shortlist = 100)
      val declared = requests
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        .crossJoin(spark.read.parquet(p))
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("cos", graft.expressions.CosineSimilarity(col("embedding"), col("q_emb")))
        .withColumn("rn", row_number().over(W.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id").asc)))
        .where(col("rn") <= 5)
        .select(col("q_id"), col("rn"), col("vec_id").as("neighbor_id"), col("cos"))
      val dplan = declared.queryExecution.optimizedPlan.toString
      assert(dplan.contains("ShortlistFetch") && dplan.contains("byte_dot_dyn"),
        s"sq8 batched rewrite did not fire:\n${dplan.take(2500)}")
      val ruleGot = declared
        .select(col("q_id"), col("rn"), col("neighbor_id"), round(col("cos"), 6).as("c"))
        .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
      assert(ruleGot == got, "rule-served batched SQ8 diverges from the library serve")
    } finally graft.plans.LshProbeRewrite.clear()
  }

  test("the fetch bound fails loud when the union shortlist exceeds maxFetch") {
    val p = "target/test-index/batched-pq-split" // built by the previous test
    val store = PqIndexStore()
    val requests = emb.where(col("vec_id") < 5).select(col("vec_id"), col("embedding"))
    val served = store.serveBatchedSplit(spark, p, requests,
      "vec_id", "embedding", k = 5, dim = 64, candidates = 100, maxFetch = 7)
    val e = intercept[Exception] { served.collect() }
    assert(e.getMessage.contains("declared bound"), e.getMessage)
  }
}
