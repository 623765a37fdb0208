package graft

import graft.plans.ShortlistFetch
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlShims
import org.scalatest.funsuite.AnyFunSuite

/** The single-plan shortlist-then-fetch operator: staging inside ONE
  * lazily-executed plan, bounded driver hop enforced, point-list
  * pushdown actually skipping files of the store-written id-clustered
  * layout.
  */
class ShortlistFetchSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private def injectStrategy(): Unit = graft.plans.LshProbeRewrite.injectStrategy(spark)

  private val tablePath = {
    val p = "target/test-shortlist-fetch/table"
    // 4 disjoint-id-range files, id-sorted within each (the writeSplit
    // layout shape) — what makes rows-read assertions meaningful
    (0L until 400L).map(i => (i, s"payload-$i", i * 2.0)).toDF("id", "tag", "val")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(p)
    p
  }

  private def node(shortlist: DataFrame, max: Int): DataFrame = {
    injectStrategy()
    val sl = shortlist.queryExecution.analyzed
    val fetch = spark.read.parquet(tablePath).queryExecution.analyzed
    SqlShims.ofRows(spark,
      ShortlistFetch(sl.output.find(_.name == "id").get, fetch, "id", max, sl))
  }

  test("fetches exactly the shortlist rows, any downstream ops compose") {
    val out = node(Seq(7L, 393L, 40L).toDF("id").limit(3), max = 3)
      .where(col("val") > 0).select(col("id"), col("tag"))
      .orderBy(col("id")).as[(Long, String)].collect()
    assert(out.toSeq == Seq((7L, "payload-7"), (40L, "payload-40"), (393L, "payload-393")))
  }

  test("building the DataFrame is lazy — no jobs run until an action") {
    // build first: spark.read.parquet may run a footer-listing job of
    // its own, which is not what this test is about
    val df = node(Seq(1L, 2L).toDF("id").limit(2), max = 2)
    var jobs = 0
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val planStr = df.queryExecution.executedPlan.toString
      assert(planStr.contains("ShortlistFetch"), planStr)
      Thread.sleep(500) // listener bus is async
      assert(jobs == 0, s"physical planning ran $jobs jobs — the shortlist must not " +
        "materialize before the caller acts")
      assert(df.count() == 2)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("unbounded shortlist fails loud at the declared bound") {
    val df = node(Seq.range(0L, 50L).toDF("id"), max = 10)
    val e = intercept[Exception] { df.collect() }
    assert(e.getMessage.contains("declared bound"),
      s"expected the bounded-collect require, got: ${e.getMessage}")
  }

  test("empty shortlist short-circuits to an empty result") {
    assert(node(Seq.empty[Long].toDF("id"), max = 5).count() == 0)
  }

  test("point-list pushdown skips files: a 1-file shortlist reads ~1/4 of rows") {
    val read = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          read.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      // ids 0..9 live in the first id-range file only
      val out = node(Seq.range(0L, 10L).toDF("id").limit(10), max = 10).collect()
      assert(out.length == 10)
      Thread.sleep(500) // listener bus is async
      // shortlist scan reads its own tiny input; the fetch must read ≤
      // one file (100 rows) of the 400-row table, not the corpus
      assert(read.get() <= 150,
        s"fetch read ${read.get()} records — the pushed id list is not skipping files")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a shortlist past the push ceiling chunks into bounded sub-scans and stays correct") {
    // parquet-mr evaluates the pushed or-chain recursively — ~2k ids
    // overflow the task stack (bisected at sf0.1), so past the 512
    // ceiling the exec splits the sorted list into ceiling-sized
    // chunks, each its own range+IN sub-scan, unioned (r17; r16
    // degraded to one [min,max] range = one full pass per batch)
    val prev = spark.conf.getOption("spark.sql.parquet.pushdown.inFilterThreshold")
    try {
      spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", "100000")
      // 2950 ids — past the 512 ceiling; 200 of them exist in the table
      val ids = Seq.range(0L, 5900L, 2L)
      val out = node(ids.toDF("id").limit(3000), max = 3000)
        .select(col("id")).as[Long].collect().sorted.toSeq
      assert(out == ids.filter(_ < 400L),
        s"chunked fetch returned ${out.length} rows")
      // the session conf is RESTORED, not clobbered (r16 ADVICE,
      // medium: the old exec left its cap behind for every
      // concurrently-planning query in the session)
      assert(spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold") == "100000")
    } finally {
      prev.fold(spark.conf.unset("spark.sql.parquet.pushdown.inFilterThreshold"))(
        v => spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", v))
    }
  }

  test("the conf window is scoped on BOTH sides of the push ceiling") {
    val tk = "spark.sql.parquet.pushdown.inFilterThreshold"
    val prev = spark.conf.getOption(tk)
    try {
      spark.conf.set(tk, "10")
      // below the ceiling: the floor is raised for the fetch, restored after
      assert(node(Seq.range(0L, 100L).toDF("id").limit(100), max = 100).count() == 100)
      assert(spark.conf.get(tk) == "10")
    } finally prev.fold(spark.conf.unset(tk))(v => spark.conf.set(tk, v))
  }

  test("chunked sub-scans past the ceiling read shortlist-proportional rows") {
    val read = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          read.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    // a wider id-clustered table so row-group skipping is visible:
    // 40k rows, 16 disjoint id-range files
    val p = "target/test-shortlist-fetch/wide"
    (0L until 40000L).map(i => (i, i * 2.0)).toDF("id", "val")
      .repartitionByRange(16, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(p)
    injectStrategy()
    // 600 ids (> 512 ceiling), all inside the FIRST two files' ranges —
    // the chunk ranges must confine the sub-scans there
    val ids = Seq.range(0L, 3000L, 5L)
    val sl = ids.toDF("id").limit(700).queryExecution.analyzed
    val fetch = spark.read.parquet(p).queryExecution.analyzed
    val df = SqlShims.ofRows(spark,
      ShortlistFetch(sl.output.find(_.name == "id").get, fetch, "id", 700, sl))
    spark.sparkContext.addSparkListener(l)
    try {
      assert(df.count() == ids.length.toLong)
      Thread.sleep(500) // listener bus is async
      // 40k-row table; the two touched files hold 5k rows — anything
      // near 40k means the chunked path degraded to a full pass
      assert(read.get() <= 12000,
        s"chunked fetch read ${read.get()} records of 40000 — not shortlist-proportional")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("ShortlistFetchJoin: one child materialization feeds both fetch and join") {
    injectStrategy()
    // pairs: (q_id, id) — two requests sharing one id, to prove the
    // join fans fetched rows back out per pair
    val pairs = Seq((100L, 7L), (200L, 7L), (100L, 40L)).toDF("q_id", "sl_id")
    val pairsPlan = pairs.queryExecution.analyzed
    val fetch = spark.read.parquet(tablePath).queryExecution.analyzed
    val df = SqlShims.ofRows(spark, graft.plans.ShortlistFetchJoin(
      pairsPlan.output.find(_.name == "sl_id").get, fetch, "id", 10, pairsPlan))
    val out = df.select(col("q_id"), col("id"), col("tag"))
      .as[(Long, Long, String)].collect().toSet
    assert(out == Set((100L, 7L, "payload-7"), (200L, 7L, "payload-7"),
      (100L, 40L, "payload-40")))
  }

  test("ShortlistFetchJoin enforces the distinct-id bound loudly") {
    injectStrategy()
    val pairs = Seq.range(0L, 30L).map(i => (1L, i)).toDF("q_id", "sl_id")
    val pairsPlan = pairs.queryExecution.analyzed
    val fetch = spark.read.parquet(tablePath).queryExecution.analyzed
    val df = SqlShims.ofRows(spark, graft.plans.ShortlistFetchJoin(
      pairsPlan.output.find(_.name == "sl_id").get, fetch, "id", 10, pairsPlan))
    val e = intercept[Exception] { df.collect() }
    assert(e.getMessage.contains("distinct ids"),
      s"expected the distinct-id bound require, got: ${e.getMessage}")
  }

  test("plan-form split-PQ serve is row-identical to the two-plan staged serve") {
    val sfDir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sfDir).where(col("embedding").isNotNull)
    val p = "target/test-shortlist-fetch/pq-split"
    val store = graft.index.PqIndexStore()
    store.writeSplit(emb, col("vec_id"), col("embedding"), dim = 64, p)
    val q = Queries.queryVec(spark, sfDir)
    def rows(df: DataFrame) =
      df.select(col("vec_id"), round(col("score"), 6).as("score"))
        .as[(Long, Double)].collect().toSeq
    val twoPlan = rows(store.searchRefinedSplit(spark, p, "vec_id", "embedding",
      q, k = 5, dim = 64, candidates = 100))
    val onePlanDf = store.searchRefinedSplitPlan(spark, p, "vec_id", "embedding",
      q, k = 5, dim = 64, candidates = 100)
    assert(onePlanDf.queryExecution.executedPlan.toString.contains("ShortlistFetch"))
    assert(rows(onePlanDf) == twoPlan)
  }
}
