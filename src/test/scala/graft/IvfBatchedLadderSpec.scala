package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The IVF guaranteed-k filtered ladder at batch QPS (r17 — the r16
  * verdict's #1): every request's escalation (nprobe → 2·nprobe →
  * filtered corpus) decided IN one plan, both as the library call
  * ([[graft.index.KnnJoin.ivfServeFilteredAdaptiveBatched]]) and
  * through the optimizer rule's `guaranteeK` IVF registration. The
  * corpus is CRAFTED so one batch exercises all three rungs, and the
  * refusal guard (no guaranteeK ⇒ the declared plan runs untouched)
  * is pinned explicitly.
  */
class IvfBatchedLadderSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8
  private def unit(axis: Int): Array[Float] =
    Array.tabulate(dim)(i => if (i == axis) 1f else 0f)
  private def mix(main: Int, second: Int): Array[Float] = {
    val v = Array.tabulate(dim)(i =>
      if (i == main) 1f else if (i == second) 0.1f else 0f)
    graft.functions.VectorFunctions.l2NormalizeArr(v)
  }
  // three orthogonal cluster centers; a member of cluster X is the
  // center nudged by a tiny per-row wobble on an unused axis so rows
  // are distinct but assignment is unambiguous
  private def member(axis: Int, wobble: Int): Array[Float] = {
    val v = unit(axis)
    v(5 + (wobble % 3)) = 0.01f * (1 + wobble % 4)
    graft.functions.VectorFunctions.l2NormalizeArr(v)
  }
  private val cents: Array[(Long, Array[Float])] =
    Array((0L, unit(0)), (1L, unit(1)), (2L, unit(2)))

  // cluster A (cid 0): 5 filter-passing rows (ids 1-5)
  // cluster B (cid 1): 2 filter-passing (6, 7) + 3 filter-failing (101-103)
  // cluster C (cid 2): 0 filter-passing + 4 filter-failing (104-107)
  // filter: vec_id < 100
  private val corpusRows: Seq[(Long, Array[Float], Long)] =
    (1L to 5L).map(i => (i, member(0, i.toInt), 0L)) ++
      Seq((6L, member(1, 1), 1L), (7L, member(1, 2), 1L)) ++
      (101L to 103L).map(i => (i, member(1, i.toInt), 1L)) ++
      (104L to 107L).map(i => (i, member(2, i.toInt), 2L))

  private val layout: DataFrame = corpusRows
    .map { case (id, v, cid) => (id, v.toSeq, cid) }
    .toDF("vec_id", "embedding", "cluster_id")
    .select(col("vec_id"), col("embedding").cast("array<float>"), col("cluster_id"))

  // R0 ranks (A, B):  n0 = 5 >= 3          -> level 0, "ivf"
  // R1 ranks (C, A):  n0 = 0, n1 = 5 >= 3  -> level 1, "ivf_w2"
  // R2 ranks (B, C):  n0 = 2, n1 = 2 < 3   -> level 2, "brute"
  private val requests = Seq(
    (9000L, mix(0, 1).toSeq), (9001L, mix(2, 0).toSeq), (9002L, mix(1, 2).toSeq))
    .toDF("vec_id", "embedding")
    .select(col("vec_id"), col("embedding").cast("array<float>"))

  private val k = 3
  private val filter = col("vec_id") < 100

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    val na = math.sqrt(a.map(x => x.toDouble * x).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
    if (na == 0 || nb == 0) 0.0
    else a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum / (na * nb)
  }

  /** Expected top-k of `qv` over the filter-surviving rows of `pool`
    * cluster ids, (cos desc, id asc). */
  private def expectTopK(qv: Array[Float], poolCids: Set[Long]): Seq[Long] =
    corpusRows.filter { case (id, _, cid) => id < 100 && poolCids.contains(cid) }
      .map { case (id, v, _) => (id, cos(qv, v)) }
      .sortBy { case (id, s) => (-s, id) }
      .take(k).map(_._1)

  test("library serve: one batch exercises all three IVF rungs with the right pools") {
    val out = graft.index.KnnJoin.ivfServeFilteredAdaptiveBatched(
        requests, layout, cents, nprobe = 1, k = k, userFilter = filter)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(4)))
      .groupBy(_._1)
    val want = Map(
      9000L -> ("ivf", expectTopK(mix(0, 1), Set(0L))),
      9001L -> ("ivf_w2", expectTopK(mix(2, 0), Set(2L, 0L))),
      9002L -> ("brute", expectTopK(mix(1, 2), Set(0L, 1L, 2L))))
    for ((qid, (level, ids)) <- want) {
      val rows = out.getOrElse(qid, Array.empty[(Long, Int, Long, String)]).sortBy(_._2)
      assert(rows.nonEmpty, s"request $qid unanswered")
      assert(rows.forall(_._4 == level),
        s"request $qid served at ${rows.map(_._4).distinct.mkString} not $level")
      assert(rows.map(_._3).toSeq == ids,
        s"request $qid: got ${rows.map(_._3).toSeq}, want $ids")
    }
  }

  test("rule: a filtered batched declaration over a guaranteeK IVF registration escalates in-plan") {
    val s = spark
    val p = "target/spec-index/ivf-batched-ladder"
    graft.index.IvfIndexStore(cents).write(
      layout.select(col("vec_id"), col("embedding")), "embedding", p): Unit
    graft.plans.LshProbeRewrite.inject(s)
    try {
      graft.plans.LshProbeRewrite.clear()
      graft.plans.LshProbeRewrite.registerIvf(p, cents, nprobe = 1, guaranteeK = true)
      val base = s.read.parquet(p)
      def declared(reqs: DataFrame) = reqs
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        .crossJoin(base.where(filter))
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("cos",
          graft.expressions.CosineSimilarity(col("embedding"), col("q_emb")))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
            .orderBy(col("cos").desc, col("vec_id").asc)))
        .where(col("rn") <= k)
        .select(col("q_id"), col("rn"), col("vec_id").as("neighbor_id"),
          col("cos"), lit("auto").as("index_used"))
      val df = declared(requests)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("min_dist") && plan.contains("ivf_w2"),
        s"IVF batched ladder did not fire:\n${plan.take(2000)}")
      assert(!plan.contains("auto"), "placeholder literal survived the rewrite")
      val got = df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          math.rint(r.getDouble(3) * 1e4) / 1e4, r.getString(4))).toSeq.sorted
      // request-identical to the library serve over the same stored layout
      val want = graft.index.KnnJoin.ivfServeFilteredAdaptiveBatched(
          requests, base, cents, nprobe = 1, k = k, userFilter = filter)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          math.rint(r.getDouble(3) * 1e4) / 1e4, r.getString(4))).toSeq.sorted
      assert(got == want, s"rule-served $got != library serve $want")
      assert(want.map(_._5).distinct.sorted == Seq("brute", "ivf", "ivf_w2"),
        "the stored-layout batch lost its three-rung mix")
    } finally {
      graft.plans.LshProbeRewrite.clear()
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations.filterNot(_ == graft.plans.LshProbeRewrite)
      s.experimental.extraStrategies =
        s.experimental.extraStrategies.filterNot(
          _.isInstanceOf[graft.plans.LshProbeStrategy])
    }
  }

  test("the COMPOSED kind's guaranteed-k: filtered serves ride the IVF ladder, per-request and batched") {
    // r17 (round-18 thread #4, closed in-round): recall-under-filter
    // belongs to the coarse quantizer's geometry — codes accelerate
    // corpus-wide UNFILTERED scans, a filtered pool is already
    // candidate-sized and the rerank is exact either way — so an
    // `ivfpq` guaranteeK registration serves filtered queries through
    // the SAME ladder as the IVF kind (identical output, one shared
    // oracle family).
    val s = spark
    val p = "target/spec-index/ivfpq-gk-ladder"
    val emb = layout.select(col("vec_id"), col("embedding"))
    val cb = graft.index.PqKnn.train(emb, col("vec_id"), col("embedding"),
      dim = dim, m = 2, k = 4)
    val codes = graft.index.PqKnn.encode(emb, col("vec_id"), col("embedding"), cb)
      .withColumnRenamed("id", "vec_id")
    graft.index.IvfKnn.assign(emb, col("embedding"), cents)
      .select(col("vec_id"), col("embedding"), col("cluster_id"))
      .join(codes, "vec_id")
      .repartition(col("cluster_id"))
      .write.mode("overwrite").partitionBy("cluster_id").parquet(p)
    graft.plans.LshProbeRewrite.inject(s)
    try {
      graft.plans.LshProbeRewrite.clear()
      graft.plans.LshProbeRewrite.registerIvfPq(p, cents, nprobe = 1, cb,
        shortlist = 50, guaranteeK = true)
      val base = s.read.parquet(p)
      // per-request: a starving filter escalates to the level the IVF
      // geometry dictates (R1's clusters: C then A -> ivf_w2)
      val perReq = base
        .where(filter)
        .withColumn("score", graft.expressions.CosineSimilarity(
          col("embedding"), typedlit(mix(2, 0).toSeq)))
        .withColumn("index_used", lit("auto"))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(k)
        .select(col("vec_id"), col("score"), col("index_used"))
      val prPlan = perReq.queryExecution.optimizedPlan.toString
      assert(prPlan.contains("gk_level"),
        s"composed-kind filtered top-k must ride the IVF ladder:\n${prPlan.take(1500)}")
      val got = perReq.collect().map(r => (r.getLong(0), r.getString(2))).toSeq
      assert(got.nonEmpty && got.forall(_._2 == "ivf_w2"),
        s"expected the widened rung, got $got")
      assert(got.map(_._1) == expectTopK(mix(2, 0), Set(2L, 0L)), s"pool wrong: $got")
      // batched: the filtered declaration rewrites to the batched ladder
      val declared = requests
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        .crossJoin(base.where(filter))
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("cos",
          graft.expressions.CosineSimilarity(col("embedding"), col("q_emb")))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
            .orderBy(col("cos").desc, col("vec_id").asc)))
        .where(col("rn") <= k)
        .select(col("q_id"), col("rn"), col("vec_id").as("neighbor_id"),
          col("cos"), lit("auto").as("index_used"))
      val bPlan = declared.queryExecution.optimizedPlan.toString
      assert(bPlan.contains("min_dist") && bPlan.contains("ivf_w2"),
        s"composed-kind filtered batch must ride the batched IVF ladder:\n${bPlan.take(1500)}")
      val gotB = declared.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(4))).toSeq.sorted
      val wantB = graft.index.KnnJoin.ivfServeFilteredAdaptiveBatched(
          requests, base, cents, nprobe = 1, k = k, userFilter = filter)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(4))).toSeq.sorted
      assert(gotB == wantB, s"composed batched ladder diverged: $gotB vs $wantB")
    } finally {
      graft.plans.LshProbeRewrite.clear()
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations.filterNot(_ == graft.plans.LshProbeRewrite)
      s.experimental.extraStrategies =
        s.experimental.extraStrategies.filterNot(
          _.isInstanceOf[graft.plans.LshProbeStrategy])
    }
  }

  test("refusal guard: no guaranteeK ⇒ the filtered batched declaration keeps its declared plan") {
    val s = spark
    val p = "target/spec-index/ivf-batched-ladder-nogk"
    graft.index.IvfIndexStore(cents).write(
      layout.select(col("vec_id"), col("embedding")), "embedding", p): Unit
    graft.plans.LshProbeRewrite.inject(s)
    try {
      graft.plans.LshProbeRewrite.clear()
      graft.plans.LshProbeRewrite.registerIvf(p, cents, nprobe = 1, guaranteeK = false)
      val base = s.read.parquet(p)
      val df = requests
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        .crossJoin(base.where(filter))
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("cos",
          graft.expressions.CosineSimilarity(col("embedding"), col("q_emb")))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
            .orderBy(col("cos").desc, col("vec_id").asc)))
        .where(col("rn") <= k)
        .select(col("q_id"), col("rn"), col("vec_id").as("neighbor_id"), col("cos"))
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("min_dist") && !plan.contains("ivf_w2"),
        s"a non-guaranteeK registration must NOT rewrite a filtered batched " +
          s"declaration (a static serve under a filter can starve):\n${plan.take(1500)}")
    } finally {
      graft.plans.LshProbeRewrite.clear()
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations.filterNot(_ == graft.plans.LshProbeRewrite)
      s.experimental.extraStrategies =
        s.experimental.extraStrategies.filterNot(
          _.isInstanceOf[graft.plans.LshProbeStrategy])
    }
  }
}
