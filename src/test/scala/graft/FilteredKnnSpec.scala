package graft

import graft.index.{LshIndexStore, RandomHyperplaneLsh}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the adaptive filtered-search ladder's ESCALATION BOUNDARY
  * ([[graft.index.LshIndexStore.searchFilteredAdaptive]], r14 verdict
  * #3) on a crafted corpus where each rung's stop condition is forced:
  * the corpus mixes exact-bucket members (copies of the query vector —
  * Hamming 0 in every table by construction), 1-bit neighbors and
  * far vectors CLASSIFIED BY HASHING THEM with the index's own planes
  * (no geometric hand-waving), and three filters select id sets that
  * make the surviving-candidate count cross k at a known level.
  */
class FilteredKnnSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 16
  private val lsh = RandomHyperplaneLsh(8, 12, 7L)
  private val k = 5

  // deterministic corpus: ids 0..19 are COPIES of the query vector
  // (every table Hamming 0); ids 100.. are seeded random vectors whose
  // min per-table Hamming to the query is COMPUTED, then bucketed into
  // exact / 1-bit / far classes
  private val rng = new scala.util.Random(5)
  private val qVec = Array.fill(dim)(rng.nextGaussian().toFloat)
  private val randVecs = Array.fill(3000)(Array.fill(dim)(rng.nextGaussian().toFloat))

  private lazy val planes = lsh.planes(dim)

  /** The min over tables of the Hamming distance between the buckets
    * of `v` and `w`, hashed with the index's own planes. */
  private def minHamming(v: Array[Float], w: Array[Float]): Int = {
    val vn = graft.functions.VectorFunctions.l2NormalizeArr(v)
    val wn = graft.functions.VectorFunctions.l2NormalizeArr(w)
    planes.map { tp =>
      Integer.bitCount(lsh.hash(vn.toSeq, tp) ^ lsh.hash(wn.toSeq, tp))
    }.min
  }

  private lazy val classes: Map[Long, Int] = classesFor(qVec) // id -> min Hamming
  private lazy val oneBitIds = classes.collect { case (id, h) if h == 1 => id }.toSeq.sorted
  private lazy val farIds = classes.collect { case (id, h) if h >= 2 => id }.toSeq.sorted

  private lazy val layoutPath = {
    val path = "target/spec-index/filtered-adaptive"
    val rows = (0L until 20L).map(i => (i, qVec.toSeq)) ++
      randVecs.zipWithIndex.map { case (v, i) => (100L + i, v.toSeq) }
    if (!new java.io.File(path, "_SUCCESS").exists())
      LshIndexStore(lsh, dim).write(
        rows.toDF("vec_id", "embedding")
          .select(col("vec_id"), col("embedding").cast("array<float>")),
        "embedding", path)
    path
  }
  private lazy val layout = spark.read.parquet(layoutPath)
  private val store = LshIndexStore(lsh, dim)

  test("the crafted classes are populated (the fixture can force every rung)") {
    assert(oneBitIds.size >= 5, s"need >=5 one-bit neighbors, got ${oneBitIds.size}")
    assert(farIds.size >= 6, s"need >=6 far vectors, got ${farIds.size}")
  }

  test("rung 1: enough exact-bucket survivors -> index_used=lsh, no widening") {
    // filter keeps 10 exact-bucket copies: 10 >= k stops at level 0
    val out = store.searchFilteredAdaptive(layout, "embedding", "vec_id",
      col("vec_id") < 10, qVec, k).collect()
    assert(out.length == k)
    assert(out.forall(_.getString(out.head.length - 1) == "lsh"))
    // copies of the query score 1.0; tie-break by id -> ids 0..4
    assert(out.map(_.getLong(0)).toSeq == (0L until 5L))
  }

  test("rung 2: exact short of k but 1-bit ball reaches it -> index_used=lsh_mp1") {
    // 2 exact copies + 5 one-bit neighbors survive the filter:
    // exact count 2 < k, widened count 7 >= k
    val ids = Seq(0L, 1L) ++ oneBitIds.take(5)
    val out = store.searchFilteredAdaptive(layout, "embedding", "vec_id",
      col("vec_id").isin(ids.map(Long.box): _*), qVec, k).collect()
    assert(out.length == k)
    assert(out.forall(_.getString(out.head.length - 1) == "lsh_mp1"))
    // the two exact copies rank 1-2 at score 1.0
    assert(out.take(2).map(_.getLong(0)).toSeq == Seq(0L, 1L))
  }

  test("rung 3: no probe level reaches k -> exact scan of the filtered subset, full k") {
    // 6 far vectors (min Hamming >= 2 in every table): both probe
    // levels count 0 < k, so the ladder tops out at brute-over-filter
    // and still returns a FULL k rows — the guaranteed-k contract
    val ids = farIds.take(6)
    val out = store.searchFilteredAdaptive(layout, "embedding", "vec_id",
      col("vec_id").isin(ids.map(Long.box): _*), qVec, k).collect()
    assert(out.length == k)
    assert(out.forall(_.getString(out.head.length - 1) == "brute"))
    // equals the brute top-k over exactly the filtered subset
    val expect = graft.index.BruteForceKnn.search(
        layout.where(col("table") === 0 && col("vec_id").isin(ids.map(Long.box): _*)),
        col("embedding"), col("vec_id"), qVec, k)
      .select(col("vec_id")).as[Long].collect().toSeq
    assert(out.map(_.getLong(0)).toSeq == expect)
  }

  test("batched ladder: one plan serves all three rungs, request-identical to the per-request ladder") {
    // r15 open thread #4: three requests in ONE batch, crafted (by
    // hashing with the index's own planes) so each stops at a
    // different rung — R0 at exact-bucket, R1 at the 1-bit ball, R2
    // starved through to brute — and the batched plan's output per
    // request equals the per-request ladder's. Request ids are NOT
    // corpus ids, so self-exclusion is vacuous and the two forms must
    // agree exactly (same filter, same counts, same boundary).
    // R1: the first corpus random vector that is FAR from the qVec copy
    // block (so R0's copies can't pollute its counts), short of k exact
    // copies, but with a full ball — all three conditions verified by
    // hashing, never assumed
    val r1Vec = randVecs.find { v =>
      minHamming(v, qVec) >= 2 && {
        val cls = classesFor(v)
        cls.count(_._2 == 0) < k && cls.count(_._2 == 1) >= 5
      }
    }.get
    val r1Classes = classesFor(r1Vec)
    val r1Exact = r1Classes.collect { case (id, 0) => id }.toSeq.sorted
    val r1OneBit = r1Classes.collect { case (id, 1) => id }.toSeq.sorted
    val fillers = randVecs.indices.map(i => 100L + i).filter { id =>
      classes(id) >= 2 && r1Classes(id) >= 2
    }.take(6)
    val s0 = (0L until 10L) ++ r1Exact ++ r1OneBit.take(5) ++ fillers
    val r2Vec = randVecs.indices.map(randVecs(_)).find { v =>
      minHamming(v, qVec) >= 2 &&
        s0.count { id =>
          val cv = if (id < 100) qVec else randVecs((id - 100).toInt)
          minHamming(cv, v) <= 1
        } < k
    }.get
    val filterIds = s0
    import spark.implicits._
    val requests = Seq(
      (9000L, qVec.toSeq), (9001L, r1Vec.toSeq), (9002L, r2Vec.toSeq))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val filter = col("vec_id").isin(filterIds.map(Long.box): _*)
    val batched = graft.index.KnnJoin.lshServeFilteredAdaptiveBatched(
        requests, layout, lsh, dim, k, filter)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e4) / 1e4, r.getString(4)))
      .toSeq
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val wantLevels = Map(9000L -> "lsh", 9001L -> "lsh_mp1", 9002L -> "brute")
    for ((qid, qv) <- Seq((9000L, qVec), (9001L, r1Vec), (9002L, r2Vec))) {
      val rows = batched.getOrElse(qid, Nil)
      assert(rows.nonEmpty, s"request $qid unanswered")
      assert(rows.forall(_._5 == wantLevels(qid)),
        s"request $qid served at ${rows.map(_._5).distinct.mkString} " +
          s"not ${wantLevels(qid)}")
      val want = store.searchFilteredAdaptive(layout, "embedding", "vec_id",
          filter, qv, k)
        .select(col("vec_id"), col("score"), col("index_used")).collect()
        .map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e4) / 1e4,
          r.getString(2)))
      assert(rows.map(x => (x._3, x._4, x._5)).toSeq == want.toSeq,
        s"request $qid: batched ${rows.toSeq} != per-request ${want.toSeq}")
    }
  }

  private def classesFor(w: Array[Float]): Map[Long, Int] =
    randVecs.zipWithIndex.map { case (v, i) => (100L + i, minHamming(v, w)) }.toMap

  test("registration-level guaranteeK: a PLAIN filtered top-k escalates through the rule at every rung") {
    // r16 (r15 verdict #1): the caller writes ONLY
    // `where(filter).orderBy(score).limit(k)` plus a literal
    // index_used placeholder — the REGISTRATION makes it escalate.
    // Each rung forced exactly as the library-ladder tests above, and
    // the rule-served output must equal searchFilteredAdaptive's
    // decision for decision (same counts, boundary, set, level).
    val s = spark
    graft.plans.LshProbeRewrite.inject(s)
    try {
      graft.plans.LshProbeRewrite.clear()
      graft.plans.LshProbeRewrite.register(layoutPath, lsh, dim, guaranteeK = true)
      def serve(filter: org.apache.spark.sql.Column): Seq[(Long, Double, String)] = {
        val out = s.read.parquet(layoutPath)
          .where(filter)
          .withColumn("score", graft.expressions.CosineSimilarity(
            col("embedding"), typedlit(qVec.toSeq)))
          .withColumn("index_used", lit("auto"))
          .orderBy(col("score").desc, col("vec_id").asc)
          .limit(k)
          .select(col("vec_id"), col("score"), col("index_used"))
        val plan = out.queryExecution.optimizedPlan.toString
        assert(plan.contains("gk_level"), s"ladder did not fire:\n${plan.take(2000)}")
        assert(!plan.contains("auto"), "placeholder literal survived the rewrite")
        out.collect().map(r => (r.getLong(0),
          math.rint(r.getDouble(1) * 1e4) / 1e4, r.getString(2))).toSeq
      }
      val rungFilters = Seq(
        col("vec_id") < 10,                                      // level 0: lsh
        col("vec_id").isin((Seq(0L, 1L) ++ oneBitIds.take(5))
          .map(Long.box): _*),                                   // level 1: lsh_mp1
        col("vec_id").isin(farIds.take(6).map(Long.box): _*))    // level 2: brute
      val wantLevels = Seq("lsh", "lsh_mp1", "brute")
      rungFilters.zip(wantLevels).foreach { case (filter, level) =>
        val got = serve(filter)
        assert(got.nonEmpty && got.forall(_._3 == level),
          s"rule served ${got.map(_._3).distinct.mkString} not $level")
        val want = store.searchFilteredAdaptive(layout, "embedding", "vec_id",
            filter, qVec, k)
          .select(col("vec_id"), col("score"), col("index_used")).collect()
          .map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e4) / 1e4,
            r.getString(2))).toSeq
        assert(got == want, s"rule-served $got != library ladder $want")
      }
    } finally {
      graft.plans.LshProbeRewrite.clear()
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations.filterNot(_ == graft.plans.LshProbeRewrite)
      s.experimental.extraStrategies =
        s.experimental.extraStrategies.filterNot(
          _.isInstanceOf[graft.plans.LshProbeStrategy])
    }
  }

  test("guaranteeK without an index_used placeholder still serves full k through the ladder") {
    // the reporting slot is OPT-IN: a caller that doesn't project the
    // placeholder still gets the escalation (guaranteed k), just no
    // level column — the rewrite must not depend on the slot existing
    val s = spark
    graft.plans.LshProbeRewrite.inject(s)
    try {
      graft.plans.LshProbeRewrite.clear()
      graft.plans.LshProbeRewrite.register(layoutPath, lsh, dim, guaranteeK = true)
      // the starving filter (6 far ids): only the brute rung can fill k
      val out = s.read.parquet(layoutPath)
        .where(col("vec_id").isin(farIds.take(6).map(Long.box): _*))
        .withColumn("score", graft.expressions.CosineSimilarity(
          col("embedding"), typedlit(qVec.toSeq)))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(k)
        .select(col("vec_id"), col("score"))
      val plan = out.queryExecution.optimizedPlan.toString
      assert(plan.contains("gk_level"), s"ladder did not fire:\n${plan.take(2000)}")
      val got = out.collect().map(_.getLong(0)).toSeq
      assert(got.length == k, s"starved filter must still fill k, got $got")
      val want = store.searchFilteredAdaptive(layout, "embedding", "vec_id",
          col("vec_id").isin(farIds.take(6).map(Long.box): _*), qVec, k)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      assert(got == want)
    } finally {
      graft.plans.LshProbeRewrite.clear()
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations.filterNot(_ == graft.plans.LshProbeRewrite)
      s.experimental.extraStrategies =
        s.experimental.extraStrategies.filterNot(
          _.isInstanceOf[graft.plans.LshProbeStrategy])
    }
  }

  test("guaranteeK fast path: an UNFILTERED top-k plans the static probe unchanged") {
    // no filter -> no starvation-by-predicate the ladder could fix that
    // the probe doesn't have: the plan must be BIT-IDENTICAL (modulo
    // exprIds) to the guaranteeK=false registration's
    val s = spark
    graft.plans.LshProbeRewrite.inject(s)
    try {
      val baseDf = s.read.parquet(layoutPath)
      def topk = baseDf
        .withColumn("score", graft.expressions.CosineSimilarity(
          col("embedding"), typedlit(qVec.toSeq)))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(k)
      def normalized: String = topk.queryExecution.optimizedPlan.toString
        .replaceAll("#\\d+", "#")
      graft.plans.LshProbeRewrite.clear()
      graft.plans.LshProbeRewrite.register(layoutPath, lsh, dim, guaranteeK = true)
      val gk = normalized
      assert(gk.contains("LshProbeTopK") && !gk.contains("gk_level"),
        s"unfiltered top-k must plan the static probe:\n${gk.take(2000)}")
      graft.plans.LshProbeRewrite.clear()
      graft.plans.LshProbeRewrite.register(layoutPath, lsh, dim)
      assert(normalized == gk, "guaranteeK changed the unfiltered plan")
    } finally {
      graft.plans.LshProbeRewrite.clear()
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations.filterNot(_ == graft.plans.LshProbeRewrite)
      s.experimental.extraStrategies =
        s.experimental.extraStrategies.filterNot(
          _.isInstanceOf[graft.plans.LshProbeStrategy])
    }
  }

  test("escalation boundary is exactly k survivors") {
    // k exact-bucket survivors: count == k stops at level 0 (>=, not >)
    val atK = store.searchFilteredAdaptive(layout, "embedding", "vec_id",
      col("vec_id") < k, qVec, k).collect()
    assert(atK.forall(_.getString(atK.head.length - 1) == "lsh"))
    // k-1 exact survivors and nothing else in the filter: level 0 and
    // level 1 both count k-1 < k -> brute, which returns the k-1 rows
    val belowK = store.searchFilteredAdaptive(layout, "embedding", "vec_id",
      col("vec_id") < (k - 1), qVec, k).collect()
    assert(belowK.length == k - 1)
    assert(belowK.forall(_.getString(belowK.head.length - 1) == "brute"))
  }
}
