package graft

import graft.expressions.CosineSimilarity
import graft.index.{BruteForceKnn, LshIndexStore, RandomHyperplaneLsh}
import graft.plans.LshProbeRewrite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LshProbeRewriteSpec extends AnyFunSuite {

  private val indexPath = "target/test-index/rewrite-lsh"

  private def withExtSession[A](f: SparkSession => A): A = {
    val prev = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-rewrite-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try f(s)
    finally prev.foreach { p =>
      SparkSession.setDefaultSession(p)
      SparkSession.setActiveSession(p)
    }
  }

  test("registered index: ORDER BY cosine DESC LIMIT k gets the bucket-probe filter injected") {
    // build the at-rest index with the base session (clean slate: layout
    // changes leave stale partition dirs behind otherwise)
    TestSpark.rmTree(new java.io.File(indexPath))
    val base = TestSpark.spark
    val lsh = RandomHyperplaneLsh(8, 12, 42L)
    LshIndexStore(lsh, 64).write(
      Tables.embeddings(base, "/root/testdata/sf0.001"), "embedding", indexPath)
    val q = Queries.queryVec(base, "/root/testdata/sf0.001")

    withExtSession { s =>
      LshProbeRewrite.clear()
      def topk = s.read.parquet(indexPath)
        .withColumn("score", CosineSimilarity(col("embedding"), typedlit(q.toSeq)))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(5)

      // unregistered: no probe node
      val before = topk.queryExecution.optimizedPlan.toString
      assert(!before.contains("LshProbeTopK"), s"unexpected probe in:\n$before")

      LshProbeRewrite.register(indexPath, lsh, 64)
      val after = topk.queryExecution.optimizedPlan.toString
      assert(after.contains("LshProbeTopK") && after.contains("bucket_part"),
        s"expected probe node + bucket filter in:\n$after")
      // physical node names print with the Exec suffix stripped
      val physical = topk.queryExecution.executedPlan.toString
      assert(physical.contains("LshProbeTopK"),
        s"expected the custom physical operator in:\n$physical")
      // the whole-operator plan has NO exchange for the dedupe: only the
      // final <= k*P-row merge moves data
      assert(!physical.contains("HashAggregate"),
        s"dedupe must not plan as an aggregate:\n$physical")

      // results: the probe is the LSH candidate set -> subset of brute
      // with equal scores; the member query (vec 0) is always a candidate
      import s.implicits._
      val hits = topk.select("vec_id", "score").as[(Long, Double)].collect()
      assert(hits.nonEmpty && hits.head._1 == 0L && math.abs(hits.head._2 - 1.0) < 1e-9)
      val brute = BruteForceKnn.scored(
          Tables.embeddings(s, "/root/testdata/sf0.001"), col("embedding"), q)
        .select("vec_id", "score").as[(Long, Double)].collect().toMap
      hits.foreach { case (id, sc) => assert(math.abs(brute(id) - sc) < 1e-12) }
      LshProbeRewrite.clear()
    }
  }

  test("envelope projection over the top-k still serves through the probe") {
    // callers round the score and attach literal envelope columns; the
    // optimizer pushes that Project BELOW the limit and column pruning
    // strips the payload from the inner projection — the shape that
    // silently fell back to the exact scan before the second rewrite
    // arm + child-side dedupe keys (r12). Run WITHOUT GraftExtensions:
    // the public experimental hooks are how a stock session opts in.
    val s = TestSpark.spark
    LshProbeRewrite.inject(s)
    try {
      LshProbeRewrite.clear()
      val lsh = RandomHyperplaneLsh(8, 12, 42L)
      LshProbeRewrite.register(indexPath, lsh, 64)
      val q = Queries.queryVec(s, "/root/testdata/sf0.001")
      val enveloped = s.read.parquet(indexPath)
        .withColumn("score", CosineSimilarity(col("embedding"), typedlit(q.toSeq)))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(5)
        .select(col("vec_id"), round(col("score"), 4).as("score"),
          lit("lsh").as("index_used"))
      val plan = enveloped.queryExecution.optimizedPlan.toString
      assert(plan.contains("LshProbeTopK"), s"rewrite did not fire through the envelope:\n$plan")
      // dedupe is exact even though embedding/label were pruned from the
      // projection: results equal the hand-built probe's
      import s.implicits._
      val got = enveloped.select("vec_id", "score").as[(Long, Double)].collect().toSeq
      val want = lsh.search(
          Tables.embeddings(s, "/root/testdata/sf0.001"), col("embedding"), col("vec_id"), q, 5)
        ._1.select(col("vec_id"), round(col("score"), 4).as("score"))
        .as[(Long, Double)].collect().toSeq
      assert(got == want, s"got=$got want=$want")
    } finally {
      LshProbeRewrite.clear()
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations.filterNot(_ == LshProbeRewrite)
      s.experimental.extraStrategies =
        s.experimental.extraStrategies.filterNot(_.isInstanceOf[graft.plans.LshProbeStrategy])
    }
  }

  test("a maxHamming=1 registration serves the 1-bit multi-probe candidate set") {
    val s = TestSpark.spark
    LshProbeRewrite.inject(s)
    try {
      LshProbeRewrite.clear()
      val lsh = RandomHyperplaneLsh(8, 12, 42L)
      LshProbeRewrite.register(indexPath, lsh, 64, maxHamming = 1)
      val q = Queries.queryVec(s, "/root/testdata/sf0.001")
      val topk = s.read.parquet(indexPath)
        .withColumn("score", CosineSimilarity(col("embedding"), typedlit(q.toSeq)))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(5)
      val plan = topk.queryExecution.optimizedPlan.toString
      assert(plan.contains("LshProbeTopK"), s"multi-probe rewrite did not fire:\n$plan")
      // the widened policy must equal the hand-built 1-bit probe —
      // candidateMatch(maxHamming = 1) + exact rerank, the same rule the
      // knn_lsh_multiprobe gate and its oracle pin
      import s.implicits._
      val got = topk.select("vec_id", "score").as[(Long, Double)].collect().toSeq
      val want = lsh.searchMultiProbe(
          Tables.embeddings(s, "/root/testdata/sf0.001"), col("embedding"), col("vec_id"), q, 5)
        .select(col("vec_id"), col("score")).as[(Long, Double)].collect().toSeq
      assert(got.map(_._1) == want.map(_._1), s"got=$got want=$want")
      got.zip(want).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9) }
      // and it is a strictly-wider (or equal) candidate policy than the
      // exact-bucket registration over the same layout
      LshProbeRewrite.register(indexPath, lsh, 64, maxHamming = 0)
      val exactIds = topk.select("vec_id").as[Long].collect().toSet
      assert(exactIds.subsetOf(got.map(_._1).toSet) || got.size == 5,
        "multi-probe served fewer candidates than the exact-bucket probe")
    } finally LshProbeRewrite.clear()
  }

  test("an IVF registration serves the centroid probe through the same rule") {
    val s = TestSpark.spark
    val ivfPath = "target/test-index/rewrite-ivf"
    TestSpark.rmTree(new java.io.File(ivfPath))
    LshProbeRewrite.inject(s)
    try {
      LshProbeRewrite.clear()
      val emb = Tables.embeddings(s, "/root/testdata/sf0.001")
      val cents = graft.index.IvfKnn.centroids(
        emb, col("vec_id"), col("embedding"), stride = 7L)
      assert(cents.length >= 2, "fixture too small for a 2-probe IVF test")
      graft.index.IvfIndexStore(cents).write(emb, "embedding", ivfPath)
      LshProbeRewrite.registerIvf(ivfPath, cents, nprobe = 2)
      val q = Queries.queryVec(s, "/root/testdata/sf0.001")
      val topk = s.read.parquet(ivfPath)
        .withColumn("score", CosineSimilarity(col("embedding"), typedlit(q.toSeq)))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(5)
      val plan = topk.queryExecution.optimizedPlan.toString
      assert(plan.contains("LshProbeTopK") && plan.contains("cluster_id"),
        s"IVF rewrite did not fire / probe not on cluster_id:\n$plan")
      // the probe predicate must reach the scan as a PARTITION filter
      // (reads nprobe directories), not a post-scan row filter
      val physical = topk.queryExecution.executedPlan.toString
      assert(physical.contains("PartitionFilters") &&
        physical.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
          .contains("cluster_id"),
        s"cluster_id probe did not prune partitions:\n$physical")
      // row-identical to the hand-built IVF search (same centroids,
      // same probe ranking, same rerank + tie-break)
      import s.implicits._
      val got = topk.select("vec_id", "score").as[(Long, Double)].collect().toSeq
      val want = graft.index.IvfIndexStore(cents)
        .search(s, ivfPath, "embedding", "vec_id", q, 5, nprobe = 2)
        .select(col("vec_id"), col("score")).as[(Long, Double)].collect().toSeq
      assert(got == want, s"got=$got want=$want")
    } finally LshProbeRewrite.clear()
  }

  test("an IVF guaranteeK registration escalates filtered top-k through the doubled probe") {
    // the IVF ladder's decisions recomputed INDEPENDENTLY in scala
    // (cluster ranking, per-row assignment, counts, boundary) on the
    // small fixture, then three filters force each level
    val s = TestSpark.spark
    val ivfPath = "target/test-index/rewrite-ivf-gk"
    TestSpark.rmTree(new java.io.File(ivfPath))
    LshProbeRewrite.inject(s)
    try {
      LshProbeRewrite.clear()
      val emb = Tables.embeddings(s, "/root/testdata/sf0.001")
        .where(col("embedding").isNotNull)
      val cents = graft.index.IvfKnn.centroids(
        emb, col("vec_id"), col("embedding"), stride = 7L)
      assert(cents.length >= 4, "fixture too small to double a 2-probe list")
      graft.index.IvfIndexStore(cents).write(emb, "embedding", ivfPath)
      LshProbeRewrite.registerIvf(ivfPath, cents, nprobe = 2, guaranteeK = true)
      val q = Queries.queryVec(s, "/root/testdata/sf0.001")
      // independent replay of the ladder's inputs
      val ranked = graft.index.IvfKnn.rankClusters(q, cents).map(_._1)
      val narrow = ranked.take(2).toSet
      val wide = ranked.take(4).toSet
      val assign = graft.index.IvfKnn.assign(emb, col("embedding"), cents)
        .select(col("vec_id"), col("cluster_id")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val rows = emb.select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
        if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
      }
      def expect(filterIds: Set[Long], k: Int): (Seq[Long], String) = {
        val cand0 = filterIds.filter(id => narrow.contains(assign(id)))
        val cand1 = filterIds.filter(id => wide.contains(assign(id)))
        val (chosen, level) =
          if (cand0.size >= k) (cand0, "ivf")
          else if (cand1.size >= k) (cand1, "ivf_w2")
          else (filterIds, "brute")
        (chosen.toSeq.map(id => (id, cos(rows(id), q)))
          .sortBy { case (id, sc) => (-sc, id) }.take(k).map(_._1), level)
      }
      val narrowIds = rows.keySet.filter(id => narrow.contains(assign(id))).toSeq.sorted
      val wideOnlyIds = rows.keySet.filter(id =>
        wide.contains(assign(id)) && !narrow.contains(assign(id))).toSeq.sorted
      val outsideIds = rows.keySet.filter(id => !wide.contains(assign(id))).toSeq.sorted
      assert(narrowIds.size >= 5 && wideOnlyIds.size >= 3 && outsideIds.size >= 3,
        s"fixture classes too small: ${narrowIds.size}/${wideOnlyIds.size}/${outsideIds.size}")
      val cases = Seq(
        ("level 0", narrowIds.take(8).toSet),
        ("level 1", (narrowIds.take(2) ++ wideOnlyIds.take(3)).toSet),
        ("level 2", outsideIds.take(3).toSet))
      for ((label, ids) <- cases) {
        val out = s.read.parquet(ivfPath)
          .where(col("vec_id").isin(ids.toSeq.map(Long.box): _*))
          .withColumn("score", CosineSimilarity(col("embedding"), typedlit(q.toSeq)))
          .withColumn("index_used", lit("auto"))
          .orderBy(col("score").desc, col("vec_id").asc)
          .limit(5)
          .select(col("vec_id"), col("score"), col("index_used"))
        val plan = out.queryExecution.optimizedPlan.toString
        assert(plan.contains("gk_level"), s"$label: IVF ladder did not fire:\n${plan.take(1500)}")
        val got = out.collect().map(r => (r.getLong(0), r.getString(2))).toSeq
        val (wantIds, wantLevel) = expect(ids, 5)
        assert(got.map(_._1) == wantIds, s"$label: got $got want $wantIds")
        assert(got.forall(_._2 == wantLevel), s"$label: level ${got.map(_._2).distinct} != $wantLevel")
      }
      // sidecar round-trips the IVF flag: a fresh registry restores the
      // LADDER policy, not just the static probe
      LshProbeRewrite.clear()
      assert(LshProbeRewrite.registerFromSidecar(ivfPath) == "ivf")
      // (with a payload projection: a caller projecting the layout's
      // cluster_id column is layout-aware and gets the static probe by
      // design — a deduped/unioned candidate has no honest cluster slot)
      val restored = s.read.parquet(ivfPath)
        .where(col("vec_id").isin(cases(2)._2.toSeq.map(Long.box): _*))
        .withColumn("score", CosineSimilarity(col("embedding"), typedlit(q.toSeq)))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(5)
        .select(col("vec_id"), col("score"))
      assert(restored.queryExecution.optimizedPlan.toString.contains("gk_level"),
        "restored IVF registration lost guaranteeK")
    } finally LshProbeRewrite.clear()
  }

  test("rule is idempotent and leaves non-cosine sorts alone") {
    withExtSession { s =>
      LshProbeRewrite.clear()
      LshProbeRewrite.register(indexPath, RandomHyperplaneLsh(8, 12, 42L), 64)
      // plain sort on vec_id: untouched
      val plain = s.read.parquet(indexPath).orderBy(col("vec_id")).limit(3)
      assert(plain.count() == 3)
      // rewrite applies once even though the optimizer runs to fixpoint
      val q = Queries.queryVec(TestSpark.spark, "/root/testdata/sf0.001")
      val topk = s.read.parquet(indexPath)
        .withColumn("score", CosineSimilarity(col("embedding"), typedlit(q.toSeq)))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(5)
      val plan = topk.queryExecution.optimizedPlan.toString
      val probes = plan.split("Filter").length - 1
      assert(probes >= 1, s"no filter in:\n$plan")
      assert(topk.count() >= 1)
      LshProbeRewrite.clear()
    }
  }

  test("a PQ registration serves the staged ADC-shortlist + exact-rerank rewrite") {
    // r14 verdict #4: the registry's first SCORING kind — the caller's
    // plain cosine top-k over a registered codes+floats table becomes
    // inner top-shortlist by adc_score(code) -> outer exact top-k, and
    // with a 100-wide shortlist the result equals brute force
    val base = TestSpark.spark
    val emb = Tables.embeddings(base, "/root/testdata/sf0.001")
      .where(col("embedding").isNotNull)
    val cb = graft.index.PqKnn.train(emb, col("vec_id"), col("embedding"), dim = 64)
    val pqPath = "target/test-index/rewrite-pq"
    TestSpark.rmTree(new java.io.File(pqPath))
    val codes = graft.index.PqKnn.encode(emb, col("vec_id"), col("embedding"), cb)
      .withColumnRenamed("id", "vec_id")
    emb.select(col("vec_id"), col("embedding"), col("label")).join(codes, "vec_id")
      .write.mode("overwrite").parquet(pqPath)
    val q = Queries.queryVec(base, "/root/testdata/sf0.001")
    // independent expectation from the UNREGISTERED embeddings table
    val brute = BruteForceKnn.search(emb, col("embedding"), col("vec_id"), q, 5)
      .select(col("vec_id"), round(col("score"), 4).as("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    withExtSession { s =>
      LshProbeRewrite.clear()
      LshProbeRewrite.registerPq(pqPath, cb, shortlist = 100)
      val topk = s.read.parquet(pqPath)
        .withColumn("score", CosineSimilarity(col("embedding"), typedlit(q.toSeq)))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(5)
        .select(col("vec_id"), round(col("score"), 4).as("score"))
      val plan = topk.queryExecution.optimizedPlan.toString
      assert(plan.contains("LshProbeTopK"), plan.take(3000))
      assert(plan.contains("adc_score"), plan.take(3000))
      // two staged operators, not one
      assert(plan.split("LshProbeTopK").length - 1 >= 2, plan.take(3000))
      // the explicit scan projection prunes unreferenced payload (label)
      val read = topk.queryExecution.executedPlan.toString
      val schemas = read.split("\n").filter(_.contains("ReadSchema"))
      assert(schemas.nonEmpty && !schemas.exists(_.contains("label")),
        schemas.mkString("\n"))
      val got = topk.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == brute, s"rule-served PQ diverges from brute: $got vs $brute")
      LshProbeRewrite.clear()
    }
  }

  test("an SQ8 registration serves the staged quantized-shortlist + exact-rerank rewrite") {
    // r15 open thread #1: the registry's SECOND scoring kind — same
    // staged machinery as PQ, the LUT built from SQ8's per-dimension
    // scales (SqKnn.adcTable); with a 100-wide shortlist the near-exact
    // quantized ranking cannot evict a true top-5 row, so the result
    // equals brute force
    val base = TestSpark.spark
    val emb = Tables.embeddings(base, "/root/testdata/sf0.001")
      .where(col("embedding").isNotNull)
    val scales = graft.index.SqKnn.trainScales(emb, col("embedding"), dim = 64)
    val sqPath = "target/test-index/rewrite-sq8"
    TestSpark.rmTree(new java.io.File(sqPath))
    val codes = graft.index.SqKnn.encode(emb, col("vec_id"), col("embedding"), scales)
      .withColumnRenamed("id", "vec_id")
    emb.select(col("vec_id"), col("embedding"), col("label")).join(codes, "vec_id")
      .write.mode("overwrite").parquet(sqPath)
    val q = Queries.queryVec(base, "/root/testdata/sf0.001")
    val brute = BruteForceKnn.search(emb, col("embedding"), col("vec_id"), q, 5)
      .select(col("vec_id"), round(col("score"), 4).as("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    withExtSession { s =>
      LshProbeRewrite.clear()
      LshProbeRewrite.registerSq8(sqPath, scales, shortlist = 100)
      val topk = s.read.parquet(sqPath)
        .withColumn("score", CosineSimilarity(col("embedding"), typedlit(q.toSeq)))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(5)
        .select(col("vec_id"), round(col("score"), 4).as("score"))
      val plan = topk.queryExecution.optimizedPlan.toString
      assert(plan.contains("LshProbeTopK"), plan.take(3000))
      assert(plan.contains("sq8_score"), plan.take(3000))
      assert(plan.split("LshProbeTopK").length - 1 >= 2, plan.take(3000))
      val got = topk.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == brute, s"rule-served SQ8 diverges from brute: $got vs $brute")
      // and the LUT really IS searchEncoded's arithmetic: for every
      // corpus row, AdcScore over the SQ8 LUT must equal the
      // byte·prescaled-double accumulation bit-for-bit (one collect of
      // the small fixture, pure driver-side arithmetic after)
      val lut = graft.index.SqKnn.adcTable(q, scales)
      val qn = graft.functions.VectorFunctions.l2NormalizeArr(q)
      val qScaled = Array.tabulate(math.min(qn.length, scales.length))(d =>
        qn(d).toDouble * scales(d))
      emb.select(col("vec_id"), col("embedding")).collect().foreach { r =>
        val code = graft.index.SqKnn.encodeVecWithScales(
          r.getSeq[Float](1).toArray, scales)
        val lutScore = graft.index.PqKnn.adcScore(code, lut)
        var acc = 0.0; var d = 0
        while (d < math.min(code.length, qScaled.length)) {
          acc += code(d) * qScaled(d); d += 1
        }
        assert(lutScore == acc,
          s"LUT score diverges from searchEncoded for vec ${r.getLong(0)}")
      }
      LshProbeRewrite.clear()
    }
  }

  test("an IVF-PQ registration composes the partition probe with the staged scoring rewrite") {
    // the registry's first COMPOSED kind: coarse cluster_id partition
    // filter (IVF half) under the ADC-shortlist -> exact-rerank staging
    // (PQ half), row-identical to the hand-built searchIvfPqRefined
    val base = TestSpark.spark
    val emb = Tables.embeddings(base, "/root/testdata/sf0.001")
      .where(col("embedding").isNotNull)
    val cents = graft.index.IvfKnn.centroids(emb, col("vec_id"), col("embedding"), 53L)
    assert(cents.length >= 2, "fixture too small for a 2-probe IVF-PQ test")
    val cb = graft.index.PqKnn.train(emb, col("vec_id"), col("embedding"), dim = 64)
    val path = "target/test-index/rewrite-ivfpq"
    TestSpark.rmTree(new java.io.File(path))
    val codes = graft.index.PqKnn.encode(emb, col("vec_id"), col("embedding"), cb)
      .withColumnRenamed("id", "vec_id")
    graft.index.IvfKnn.assign(emb, col("embedding"), cents)
      .select(col("vec_id"), col("embedding"), col("label"), col("cluster_id"))
      .join(codes, "vec_id")
      .repartition(col("cluster_id"))
      .write.mode("overwrite").partitionBy("cluster_id").parquet(path)
    val q = Queries.queryVec(base, "/root/testdata/sf0.001")
    val want = graft.index.PqKnn.searchIvfPqRefined(emb, col("vec_id"),
        col("embedding"), q, k = 5, dim = 64, candidates = 100)
      .select(col("vec_id"), round(col("score"), 4).as("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    withExtSession { s =>
      LshProbeRewrite.clear()
      LshProbeRewrite.registerIvfPq(path, cents, nprobe = 2, cb, shortlist = 100)
      val topk = s.read.parquet(path)
        .withColumn("score", CosineSimilarity(col("embedding"), typedlit(q.toSeq)))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(5)
        .select(col("vec_id"), round(col("score"), 4).as("score"))
      val plan = topk.queryExecution.optimizedPlan.toString
      assert(plan.contains("LshProbeTopK"), plan.take(3000))
      assert(plan.contains("adc_score"), plan.take(3000))
      assert(plan.split("LshProbeTopK").length - 1 >= 2, plan.take(3000))
      val physical = topk.queryExecution.executedPlan.toString
      assert(physical.contains("PartitionFilters") &&
        physical.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
          .contains("cluster_id"),
        s"coarse probe did not prune partitions:\n$physical")
      val got = topk.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want, s"rule-served IVF-PQ diverges from hand-built: $got vs $want")
      LshProbeRewrite.clear()
    }
  }

  test("a pq_split registration rewrites a plain float-table top-k into the staged shortlist fetch") {
    // r16, the last open thread: the rule's first TWO-TABLE kind — the
    // caller scans <root>/floats, the rewrite swaps in ADC-shortlist
    // over the sibling codes table + ShortlistFetch (runtime id IN
    // pushed into the float scan) + exact rerank
    val base = TestSpark.spark
    val emb = Tables.embeddings(base, "/root/testdata/sf0.001")
      .where(col("embedding").isNotNull)
    val root = "target/test-index/rewrite-pq-split"
    TestSpark.rmTree(new java.io.File(root))
    val cb = graft.index.PqIndexStore().writeSplit(emb, col("vec_id"),
      col("embedding"), dim = 64, root)
    val q = Queries.queryVec(base, "/root/testdata/sf0.001")
    val brute = BruteForceKnn.search(emb, col("embedding"), col("vec_id"), q, 5)
      .select(col("vec_id"), round(col("score"), 4).as("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    withExtSession { s =>
      LshProbeRewrite.clear()
      LshProbeRewrite.registerPqSplit(s, root, cb, shortlist = 100)
      def plainTopk(src: org.apache.spark.sql.DataFrame) = src
        .withColumn("score", CosineSimilarity(col("embedding"), typedlit(q.toSeq)))
        .where(col("embedding").isNotNull) // the null guard every serving path keeps
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(5)
        .select(col("vec_id"), round(col("score"), 4).as("score"))
      val topk = plainTopk(s.read.parquet(s"$root/floats"))
      val plan = topk.queryExecution.optimizedPlan.toString
      assert(plan.contains("ShortlistFetch"), plan.take(3000))
      assert(plan.contains("adc_score"), plan.take(3000))
      assert(plan.contains("LshProbeTopK"), plan.take(3000))
      val got = topk.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == brute, s"rule-served split PQ diverges from brute: $got vs $brute")

      // a caller filter on the id column is a hand-built fetch — the
      // rewrite must not stack a second shortlist onto it
      val handBuilt = plainTopk(
        s.read.parquet(s"$root/floats").where(col("vec_id").isin(1L, 2L, 3L)))
      assert(!handBuilt.queryExecution.optimizedPlan.toString.contains("ShortlistFetch"),
        "rewrite stacked onto a hand-built id-filtered fetch")
      // any metadata/range filter would starve the shortlist: exact scan
      val filtered = plainTopk(
        s.read.parquet(s"$root/floats").where(col("vec_id") > 100L))
      assert(!filtered.queryExecution.optimizedPlan.toString.contains("ShortlistFetch"),
        "rewrite served a filtered top-k from an unfiltered shortlist")

      // the sidecar restores the kind in a blank registry
      LshProbeRewrite.clear()
      assert(LshProbeRewrite.registerFromSidecar(s"$root/floats") == "pq_split")
      val again = plainTopk(s.read.parquet(s"$root/floats"))
      assert(again.queryExecution.optimizedPlan.toString.contains("ShortlistFetch"))
      assert(again.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == brute)
      LshProbeRewrite.clear()
    }
  }

  test("the batched declarative shape rewrites to the broadcast batched serve, LSH and IVF") {
    // r16 (README thread #4 in full): requests CROSS JOIN layout, self
    // excluded, cosine-scored, ranked per request, rank <= k — the one
    // shape plain Spark offers for set-at-a-time exact top-k — becomes
    // KnnJoin.lshServeBatched / ivfServeBatched under a registration
    val s = TestSpark.spark
    val sfDir = "/root/testdata/sf0.001"
    LshProbeRewrite.inject(s)
    val emb = Tables.embeddings(s, sfDir).where(col("embedding").isNotNull)
    val requests = emb.limit(7)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    import org.apache.spark.sql.expressions.{Window => W}
    def declared(layout: org.apache.spark.sql.DataFrame) = requests
      .crossJoin(layout)
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("cos", CosineSimilarity(col("embedding"), col("q_emb")))
      .withColumn("rn", row_number().over(
        W.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)))
      .where(col("rn") <= 5)
      .select(col("q_id"), col("rn"), col("vec_id").as("neighbor_id"), col("cos"))
    import s.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("q_id"), col("rn"), col("neighbor_id"), round(col("cos"), 6))
        .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    try {
      LshProbeRewrite.clear()
      // --- LSH kind ---
      val lsh = graft.index.RandomHyperplaneLsh(8, 12, 42L)
      val lshPath = "target/test-index/rewrite-batched-lsh"
      TestSpark.rmTree(new java.io.File(lshPath))
      graft.index.LshIndexStore(lsh, 64).write(emb, "embedding", lshPath)
      val unserved = rows(declared(s.read.parquet(lshPath))) // before registration
      LshProbeRewrite.register(lshPath, lsh, 64)
      val topk = declared(s.read.parquet(lshPath))
      val plan = topk.queryExecution.optimizedPlan.toString
      assert(plan.contains("bucket_part") && !plan.contains("Join Cross,"),
        s"batched rewrite did not fire:\n${plan.take(3000)}")
      val got = rows(topk)
      val want = rows(graft.index.KnnJoin.lshServeBatched(
        requests.select(col("q_id").as("vec_id"), col("q_emb").as("embedding")),
        s.read.parquet(lshPath), lsh, 64, 5))
      assert(got == want, s"rule-served batched LSH diverges from the library serve")
      // some requests may legitimately land in empty buckets; the point
      // is request-identity with the library serve, asserted above
      assert(got.nonEmpty && got.map(_._1).distinct.length >= 2)
      // the LSH probe is a strict subset of the corpus: every served
      // hit must also appear in the declared exact ranking's candidate
      // universe (sanity: ids come from the layout)
      assert(got.map(_._3).toSet.subsetOf(unserved.map(_._3).toSet ++ got.map(_._3)))

      // guards: a layout-side predicate keeps the declared plan
      val filtered = requests.crossJoin(
          s.read.parquet(lshPath).where(col("label") =!= 3))
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("cos", CosineSimilarity(col("embedding"), col("q_emb")))
        .withColumn("rn", row_number().over(
          W.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)))
        .where(col("rn") <= 5)
        .select(col("q_id"), col("rn"), col("vec_id").as("neighbor_id"), col("cos"))
      assert(filtered.queryExecution.optimizedPlan.toString.contains("Join Cross,"),
        "rewrite served a layout-filtered batched top-k from the unfiltered probe")
      // a projection wanting layout payload keeps the declared plan
      val wantsPayload = requests.crossJoin(s.read.parquet(lshPath))
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("cos", CosineSimilarity(col("embedding"), col("q_emb")))
        .withColumn("rn", row_number().over(
          W.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)))
        .where(col("rn") <= 5)
        .select(col("q_id"), col("rn"), col("vec_id").as("neighbor_id"),
          col("cos"), col("label"))
      assert(wantsPayload.queryExecution.optimizedPlan.toString.contains("Join Cross,"),
        "rewrite dropped a payload column the caller projected")

      // --- IVF kind, same declared shape ---
      LshProbeRewrite.clear()
      val cents = graft.index.IvfKnn.centroids(
        emb, col("vec_id"), col("embedding"), stride = 7L)
      val ivfPath = "target/test-index/rewrite-batched-ivf"
      TestSpark.rmTree(new java.io.File(ivfPath))
      graft.index.IvfIndexStore(cents).write(emb, "embedding", ivfPath)
      LshProbeRewrite.registerIvf(ivfPath, cents, nprobe = 2)
      val ivfTopk = declared(s.read.parquet(ivfPath))
      // the serve itself carries a legitimate cross join (requests ×
      // broadcast centroids), so pin the rewrite on the centroid probe
      // columns instead of on the absence of a cross join
      assert(ivfTopk.queryExecution.optimizedPlan.toString.contains("c_cid"),
        s"IVF batched rewrite did not fire:\n${ivfTopk.queryExecution.optimizedPlan.toString.take(3000)}")
      val ivfGot = rows(ivfTopk)
      val ivfWant = rows(graft.index.KnnJoin.ivfServeBatched(
        requests.select(col("q_id").as("vec_id"), col("q_emb").as("embedding")),
        s.read.parquet(ivfPath), cents, 2, 5))
      assert(ivfGot == ivfWant, "rule-served batched IVF diverges from the library serve")
    } finally LshProbeRewrite.clear()
  }

  test("a filtered batched declaration under guaranteeK rewrites to the in-plan ladder") {
    // the last cell of the serving matrix: the declared filtered
    // batched top-k (cross join over a FILTERED layout + window rank +
    // literal index_used slot) becomes
    // KnnJoin.lshServeFilteredAdaptiveBatched, placeholder overwritten
    val s = TestSpark.spark
    val sfDir = "/root/testdata/sf0.001"
    LshProbeRewrite.inject(s)
    val emb = Tables.embeddings(s, sfDir).where(col("embedding").isNotNull)
    val lsh = graft.index.RandomHyperplaneLsh(8, 12, 42L)
    val p = "target/test-index/rewrite-batched-gk"
    TestSpark.rmTree(new java.io.File(p))
    graft.index.LshIndexStore(lsh, 64).write(emb, "embedding", p)
    val requests = emb.limit(5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    import org.apache.spark.sql.expressions.{Window => W}
    def declared() = requests
      .crossJoin(s.read.parquet(p).where(pmod(col("vec_id"), lit(3)) === 0))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("cos", CosineSimilarity(col("embedding"), col("q_emb")))
      .withColumn("rn", row_number().over(
        W.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)))
      .where(col("rn") <= 5)
      .select(col("q_id"), col("rn"), col("vec_id").as("neighbor_id"),
        col("cos"), lit("auto").as("index_used"))
    import s.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("q_id"), col("rn"), col("neighbor_id"),
          round(col("cos"), 6).as("cos"), col("index_used"))
        .as[(Long, Int, Long, Double, String)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
    try {
      LshProbeRewrite.clear()
      LshProbeRewrite.register(p, lsh, 64, guaranteeK = true)
      val served = declared()
      val plan = served.queryExecution.optimizedPlan.toString
      assert(plan.contains("min_dist") && plan.contains("lsh_mp1"),
        s"ladder rewrite did not fire:\n${plan.take(3000)}")
      assert(!plan.contains("auto"), "the index_used placeholder survived")
      val got = rows(served)
      val want = rows(graft.index.KnnJoin.lshServeFilteredAdaptiveBatched(
        requests.select(col("q_id").as("vec_id"), col("q_emb").as("embedding")),
        s.read.parquet(p), lsh, 64, k = 5,
        userFilter = pmod(col("vec_id"), lit(3)) === 0))
      assert(got == want, "rule-served batched ladder diverges from the library ladder")
      assert(got.forall(_._3 % 3 == 0), "a neighbor escaped the user filter")
      assert(got.map(_._5).toSet.subsetOf(Set("lsh", "lsh_mp1", "brute")))
    } finally LshProbeRewrite.clear()
  }

  test("hand-built probes over a registered table are never stacked on") {
    // r15 catch (flagged by knn_filtered_adaptive's oracle): the
    // adaptive ladder's brute rung scans `table = 0` of the REGISTERED
    // layout — the rewrite stacking its bucket probe on that narrows a
    // deliberate exact-over-filtered-subset scan to 1 vacuous row. Any
    // plan already constraining a layout column (=, IN — `table`,
    // `bucket`, `bucket_part`, `cluster_id`) is layout-AWARE and must
    // pass through untouched.
    withExtSession { s =>
      LshProbeRewrite.clear()
      LshProbeRewrite.register(indexPath, RandomHyperplaneLsh(8, 12, 42L), 64)
      val q = Queries.queryVec(TestSpark.spark, "/root/testdata/sf0.001")
      def assertUntouched(filtered: org.apache.spark.sql.DataFrame): Unit = {
        val topk = filtered
          .withColumn("score", CosineSimilarity(col("embedding"), typedlit(q.toSeq)))
          .orderBy(col("score").desc, col("vec_id").asc)
          .limit(5)
        assert(!topk.queryExecution.optimizedPlan.toString.contains("LshProbeTopK"),
          "rewrite stacked on a hand-built layout-column probe")
      }
      // the brute rung's shape: every corpus row once via one sub-layout
      assertUntouched(s.read.parquet(indexPath).where(col("table") === 0))
      // an IN-list bucket probe (the adaptive ladder's widened rung)
      assertUntouched(s.read.parquet(indexPath)
        .where(col("table") === 0 && col("bucket").isin(1, 2, 3)))
      // and a layout-OBLIVIOUS filter still serves through the rule
      val oblivious = s.read.parquet(indexPath)
        .where(col("label") =!= 3)
        .withColumn("score", CosineSimilarity(col("embedding"), typedlit(q.toSeq)))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(5)
      assert(oblivious.queryExecution.optimizedPlan.toString.contains("LshProbeTopK"))
      LshProbeRewrite.clear()
    }
  }

  test("inject from 8 threads on one session adds the rule and the strategy once") {
    // a fresh session: its own experimental methods, none injected yet
    val s = TestSpark.spark.newSession()
    val start = new java.util.concurrent.CyclicBarrier(8)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val done = (1 to 8).map(_ => pool.submit(new Runnable {
        def run(): Unit = { start.await(); LshProbeRewrite.inject(s) }
      }))
      done.foreach(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow(): Unit
    assert(s.experimental.extraOptimizations.count(_ == LshProbeRewrite) == 1)
    assert(s.experimental.extraStrategies.count(_.isInstanceOf[graft.plans.LshProbeStrategy]) == 1)
  }

  test("requireServed fails on a declaration the rule left alone and on a surviving placeholder") {
    val s = TestSpark.spark
    LshProbeRewrite.inject(s)
    try {
      LshProbeRewrite.clear()
      val q = s.read.parquet(indexPath).where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      // the ladder binds layout-oblivious projections only
      def declared = LshProbeRewrite.topK(
          s.read.parquet(indexPath).where(col("label") =!= 3), q, 5, placeholder = true)
        .select(col("vec_id"), col("score"), col("index_used"))
      // unregistered: the exact scan runs, with the placeholder in place
      val notServed = intercept[IllegalArgumentException](
        LshProbeRewrite.requireServed(declared, Seq("gk_level"))("unregistered"))
      assert(notServed.getMessage.contains("lacks gk_level"))
      val survived = intercept[IllegalArgumentException](
        LshProbeRewrite.requireServed(declared, Nil, placeholder = true)("unregistered"))
      assert(survived.getMessage.contains("placeholder survived"))
      // a guaranteed-k registration serves the ladder and owns index_used
      LshProbeRewrite.register(indexPath, RandomHyperplaneLsh(8, 12, 42L), 64,
        guaranteeK = true)
      val served = LshProbeRewrite.requireServed(declared, Seq("gk_level"),
        placeholder = true)("registered")
      assert(served.collect().map(_.getAs[String]("index_used")).forall(_ != "auto"))
    } finally {
      LshProbeRewrite.clear()
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations.filterNot(_ == LshProbeRewrite)
      s.experimental.extraStrategies =
        s.experimental.extraStrategies.filterNot(_.isInstanceOf[graft.plans.LshProbeStrategy])
    }
  }
}
