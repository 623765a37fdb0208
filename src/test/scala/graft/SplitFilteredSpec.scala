package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scoring kinds' FILTERED policy (r17, open thread (a)): split-PQ
  * serving under a metadata predicate, filter-first — the predicate
  * runs on a narrow float projection, the surviving ids semi-join into
  * the codes ADC scan, the shortlist ranks the FILTERED pool, and the
  * exact rerank runs on the point-fetched floats. Filter-first makes
  * guaranteed-k structural: a scoring kind has no probe geometry a
  * predicate could starve, so no escalation ladder exists or is
  * needed — the shortlist is always the best `candidates` of the pool,
  * and a pool below k serves the whole pool (the brute contract).
  */
class SplitFilteredSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private def emb = Tables.embeddings(spark, sfDir)
    .where(col("embedding").isNotNull)
  private def q = Queries.queryVec(spark, sfDir)

  /** One payload-carrying split layout for the whole suite. */
  private lazy val path: String = {
    val p = "target/test-split-filtered"
    graft.index.PqIndexStore().writeSplit(emb, col("vec_id"), col("embedding"),
      dim = 64, p, payload = Seq(col("label")))
    p
  }

  private def inject(): Unit = graft.plans.LshProbeRewrite.inject(spark)

  private def bruteFiltered(pred: org.apache.spark.sql.Column, k: Int) =
    graft.index.BruteForceKnn
      .search(emb.where(pred), col("embedding"), col("vec_id"), q, k)
      .select(col("vec_id"), round(col("score"), 4).as("score"))
      .as[(Long, Double)].collect().toSeq

  test("filtered split serve equals the filtered brute scan (pool <= shortlist => exact)") {
    val got = graft.index.PqIndexStore()
      .searchRefinedSplitFiltered(spark, path, "vec_id", "embedding",
        col("label") === 3, q, k = 5, dim = 64, candidates = 100)
      .select(col("vec_id"), round(col("score"), 4).as("score"))
      .as[(Long, Double)].collect().toSeq
    val want = bruteFiltered(col("label") === 3, 5)
    assert(got == want, s"filtered serve diverged from filtered brute:\n$got\n$want")
    assert(got.size == 5)
  }

  test("guaranteed-k by construction: a pool below k serves the WHOLE pool") {
    // label = 3 keeps ~1/10 of 500 rows; k far above the pool size
    val poolSize = emb.where(col("label") === 3).count().toInt
    assert(poolSize < 100, s"fixture drift: pool $poolSize no longer below shortlist")
    val got = graft.index.PqIndexStore()
      .searchRefinedSplitFiltered(spark, path, "vec_id", "embedding",
        col("label") === 3, q, k = poolSize + 40, dim = 64, candidates = 100)
      .select(col("vec_id"), round(col("score"), 4).as("score"))
      .as[(Long, Double)].collect().toSeq
    assert(got.size == poolSize,
      s"pool-limited serve returned ${got.size} of $poolSize pool rows")
    assert(got == bruteFiltered(col("label") === 3, poolSize + 40))
  }

  private def filteredTopK(pred: org.apache.spark.sql.Column): DataFrame =
    graft.index.BruteForceKnn.search(
        spark.read.parquet(s"$path/floats").where(pred),
        col("embedding"), col("vec_id"), q, k = 5)
      .select(col("vec_id"), round(col("score"), 4).as("score"))

  test("rule: guaranteeK=true rewrites the filtered top-k to the semi-join staged plan") {
    graft.plans.LshProbeRewrite.unregister(s"$path/floats")
    val cb = graft.index.PqIndexStore().loadCodebooks(spark, path, dim = 64)
    graft.plans.LshProbeRewrite.registerPqSplit(spark, path, cb,
      shortlist = 100, idColName = "vec_id", guaranteeK = true)
    try {
      inject()
      val out = filteredTopK(col("label") === 3)
      val plan = out.queryExecution.optimizedPlan.toString
      assert(plan.contains("ShortlistFetch") && plan.contains("adc_score"),
        s"filtered rewrite did not fire:\n$plan")
      assert(plan.contains("LeftSemi"),
        s"filtered rewrite lost the semi-join (corpus-ranked shortlist):\n$plan")
      assert(out.as[(Long, Double)].collect().toSeq == bruteFiltered(col("label") === 3, 5))
    } finally graft.plans.LshProbeRewrite.unregister(s"$path/floats")
  }

  test("rule: guaranteeK=false keeps the exact scan for filtered plans (refusal)") {
    val cb = graft.index.PqIndexStore().loadCodebooks(spark, path, dim = 64)
    graft.plans.LshProbeRewrite.registerPqSplit(spark, path, cb,
      shortlist = 100, idColName = "vec_id", guaranteeK = false)
    try {
      inject()
      val out = filteredTopK(col("label") === 3)
      val plan = out.queryExecution.optimizedPlan.toString
      assert(!plan.contains("ShortlistFetch"),
        s"non-guaranteeK registration served a filtered plan:\n$plan")
      assert(out.as[(Long, Double)].collect().toSeq == bruteFiltered(col("label") === 3, 5))
    } finally graft.plans.LshProbeRewrite.unregister(s"$path/floats")
  }

  test("rule: an id-column filter refuses even under guaranteeK (hand-built fetch)") {
    val cb = graft.index.PqIndexStore().loadCodebooks(spark, path, dim = 64)
    graft.plans.LshProbeRewrite.registerPqSplit(spark, path, cb,
      shortlist = 100, idColName = "vec_id", guaranteeK = true)
    try {
      inject()
      val out = filteredTopK(col("vec_id") < 250L)
      val plan = out.queryExecution.optimizedPlan.toString
      assert(!plan.contains("ShortlistFetch"),
        s"id-filtered plan was rewritten — stacking narrows a hand-built fetch:\n$plan")
      assert(out.as[(Long, Double)].collect().toSeq == bruteFiltered(col("vec_id") < 250L, 5))
    } finally graft.plans.LshProbeRewrite.unregister(s"$path/floats")
  }

  test("rule: a filter on a Project alias SHADOWING a floats column refuses (exprId, not name)") {
    val cb = graft.index.PqIndexStore().loadCodebooks(spark, path, dim = 64)
    graft.plans.LshProbeRewrite.registerPqSplit(spark, path, cb,
      shortlist = 100, idColName = "vec_id", guaranteeK = true)
    try {
      inject()
      // a NON-DETERMINISTIC derived column named like the real floats
      // column: the optimizer can neither push nor substitute it down
      // to the scan, so the Filter's 'label' reference reaches the
      // rewrite with a foreign exprId. rand(7)*0+3 makes every row
      // pass (pool = whole corpus); a name-based rebind would prune to
      // the RAW label===3 pool and silently serve the wrong top-k.
      val shadowed = spark.read.parquet(s"$path/floats")
        .withColumn("label", (rand(7) * 0 + lit(3)).cast("long"))
        .where(col("label") === 3L)
      val out = graft.index.BruteForceKnn
        .search(shadowed, col("embedding"), col("vec_id"), q, k = 5)
        .select(col("vec_id"), round(col("score"), 4).as("score"))
      val plan = out.queryExecution.optimizedPlan.toString
      assert(!plan.contains("ShortlistFetch"),
        s"shadowing-alias filter was rewritten — wrong-pool hazard:\n$plan")
      assert(out.as[(Long, Double)].collect().toSeq == bruteFiltered(lit(true), 5))
    } finally graft.plans.LshProbeRewrite.unregister(s"$path/floats")
  }

  test("rule: the unfiltered top-k still serves the static staged plan under guaranteeK") {
    val cb = graft.index.PqIndexStore().loadCodebooks(spark, path, dim = 64)
    graft.plans.LshProbeRewrite.registerPqSplit(spark, path, cb,
      shortlist = 100, idColName = "vec_id", guaranteeK = true)
    try {
      inject()
      val out = graft.index.BruteForceKnn.search(
          spark.read.parquet(s"$path/floats"),
          col("embedding"), col("vec_id"), q, k = 5)
        .select(col("vec_id"), round(col("score"), 4).as("score"))
      val plan = out.queryExecution.optimizedPlan.toString
      assert(plan.contains("ShortlistFetch") && !plan.contains("LeftSemi"),
        s"unfiltered plan under guaranteeK should be the static staged serve:\n$plan")
    } finally graft.plans.LshProbeRewrite.unregister(s"$path/floats")
  }

  // ---- the FUSED scoring kinds under a filter -----------------------
  // The fused PQ/SQ8 registrations need no flag and no new machinery:
  // their staged rewrite keeps the caller's Filter INSIDE the scanned
  // child, so the ADC/SQ8 shortlist already ranks the FILTERED pool —
  // filter-first, guaranteed-k by construction, the same argument as
  // the split kind's semi-join (which only exists because the split
  // layout's metadata lives in a sibling table). These tests pin that
  // contract so a future rewrite change cannot silently move the
  // shortlist above the filter (the starvation shape).

  private lazy val fusedPath: String = {
    val p = "target/test-split-filtered-fused"
    val cb = graft.index.PqKnn.train(emb, col("vec_id"), col("embedding"), dim = 64)
    val codes = graft.index.PqKnn.encode(emb, col("vec_id"), col("embedding"), cb)
      .withColumnRenamed("id", "vec_id")
    emb.select(col("vec_id"), col("embedding"), col("label"))
      .join(codes, "vec_id")
      .write.mode("overwrite").parquet(p)
    graft.plans.LshProbeRewrite.registerPq(p, cb, shortlist = 100)
    p
  }

  test("fused PQ: a filtered top-k serves filter-first — shortlist ranks the pool, equals filtered brute") {
    inject()
    val out = graft.index.BruteForceKnn.search(
        spark.read.parquet(fusedPath).where(col("label") === 3),
        col("embedding"), col("vec_id"), q, k = 5)
      .select(col("vec_id"), round(col("score"), 4).as("score"))
    val plan = out.queryExecution.optimizedPlan.toString
    assert(plan.contains("LshProbeTopK") && plan.contains("adc_score"),
      s"fused PQ filtered top-k did not serve through the staged rewrite:\n$plan")
    assert(out.as[(Long, Double)].collect().toSeq == bruteFiltered(col("label") === 3, 5),
      "fused filtered serve diverged from the filtered brute scan")
  }

  test("fused PQ: filtered pool below k serves the whole pool (no starvation possible)") {
    inject()
    // conjunction shrinks the pool well below k = 40
    val pred = col("label") === 3 && col("vec_id") < 60L
    val poolSize = emb.where(pred).count().toInt
    assert(poolSize > 0 && poolSize < 40, s"fixture drift: pool $poolSize")
    val out = graft.index.BruteForceKnn.search(
        spark.read.parquet(fusedPath).where(pred),
        col("embedding"), col("vec_id"), q, k = 40)
      .select(col("vec_id"), round(col("score"), 4).as("score"))
    assert(out.count().toInt == poolSize,
      "fused filtered serve starved below the available pool")
  }

  test("batched: a FILTERED batched declaration over guaranteeK rewrites to the filter-first staged serve") {
    val cb = graft.index.PqIndexStore().loadCodebooks(spark, path, dim = 64)
    graft.plans.LshProbeRewrite.registerPqSplit(spark, path, cb,
      shortlist = 100, idColName = "vec_id", guaranteeK = true)
    try {
      inject()
      import org.apache.spark.sql.expressions.{Window => W}
      val requests = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val declared = requests
        .crossJoin(spark.read.parquet(s"$path/floats").where(col("label") === 3))
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("cos", graft.expressions.CosineSimilarity(col("embedding"), col("q_emb")))
        .withColumn("rn", row_number().over(W.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id").asc)))
        .where(col("rn") <= 5)
        .select(col("q_id"), col("rn"), col("vec_id").as("neighbor_id"), col("cos"))
      val plan = declared.queryExecution.optimizedPlan.toString
      assert(plan.contains("ShortlistFetch") && plan.contains("adc_score_dyn"),
        s"filtered batched pq_split rewrite did not fire:\n${plan.take(2500)}")
      assert(plan.contains("LeftSemi"),
        s"filtered batched rewrite lost the semi-join (corpus-ranked shortlists):\n${plan.take(2500)}")
      val got = declared
        .select(col("q_id"), col("rn"), col("neighbor_id"), round(col("cos"), 6).as("c"))
        .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
      // per-request expectation: exact brute over the FILTERED pool,
      // self excluded (pool <= shortlist => the serve is exact)
      val want = emb.where(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq.flatMap {
          case (qid, qv) =>
            graft.index.BruteForceKnn.search(
                emb.where(col("label") === 3 && col("vec_id") =!= qid),
                col("embedding"), col("vec_id"), qv, 5)
              .select(col("vec_id"), round(col("score"), 6).as("s"))
              .as[(Long, Double)].collect().toSeq.zipWithIndex
              .map { case ((nid, s), i) => (qid, i + 1, nid, s) }
        }
      assert(got == want,
        s"filtered batched serve diverges from filtered brute:\n$got\nvs\n$want")
    } finally graft.plans.LshProbeRewrite.unregister(s"$path/floats")
  }

  test("batched: a filtered batched declaration WITHOUT guaranteeK keeps its declared plan") {
    val cb = graft.index.PqIndexStore().loadCodebooks(spark, path, dim = 64)
    graft.plans.LshProbeRewrite.registerPqSplit(spark, path, cb,
      shortlist = 100, idColName = "vec_id", guaranteeK = false)
    try {
      inject()
      import org.apache.spark.sql.expressions.{Window => W}
      val requests = emb.where(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val declared = requests
        .crossJoin(spark.read.parquet(s"$path/floats").where(col("label") === 3))
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("cos", graft.expressions.CosineSimilarity(col("embedding"), col("q_emb")))
        .withColumn("rn", row_number().over(W.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id").asc)))
        .where(col("rn") <= 5)
        .select(col("q_id"), col("rn"), col("vec_id").as("neighbor_id"), col("cos"))
      val plan = declared.queryExecution.optimizedPlan.toString
      assert(!plan.contains("ShortlistFetch"),
        s"non-guaranteeK registration served a filtered batched declaration:\n${plan.take(2500)}")
    } finally graft.plans.LshProbeRewrite.unregister(s"$path/floats")
  }

  test("sidecar round-trips guaranteeK: a fresh registry restores the filtered policy") {
    val cb = graft.index.PqIndexStore().loadCodebooks(spark, path, dim = 64)
    graft.plans.LshProbeRewrite.registerPqSplit(spark, path, cb,
      shortlist = 100, idColName = "vec_id", guaranteeK = true)
    try {
      graft.plans.LshProbeRewrite.unregister(s"$path/floats")
      val kind = graft.plans.LshProbeRewrite.registerFromSidecar(s"$path/floats")
      assert(kind == "pq_split")
      inject()
      val plan = filteredTopK(col("label") === 3).queryExecution.optimizedPlan.toString
      assert(plan.contains("LeftSemi") && plan.contains("ShortlistFetch"),
        s"restored registration lost the filtered policy:\n$plan")
    } finally graft.plans.LshProbeRewrite.unregister(s"$path/floats")
  }
}
