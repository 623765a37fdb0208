package graft

import graft.index.{BruteForceKnn, LshIndexStore, RandomHyperplaneLsh}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IndexStoreSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private val path = "target/test-index/embeddings-lsh"

  test("partitioned at-rest LSH index: write, probe with partition pruning, results subset of brute") {
    val sfDir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sfDir)
    val store = LshIndexStore(RandomHyperplaneLsh(8, 12, 42L), dim = 64)
    store.write(emb, "embedding", path)

    // layout: one sub-layout per table, partitioned by coarse bucket
    val tables = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName)
    assert(tables.count(_.startsWith("table=")) == 8, tables.mkString(","))
    val parts = new java.io.File(s"$path/table=0").listFiles().filter(_.isDirectory).map(_.getName)
    assert(parts.nonEmpty && parts.forall(_.startsWith("bucket_part=")))

    val q = Queries.queryVec(spark, sfDir)
    val hits = store.search(spark, path, "embedding", "vec_id", q, 5)
      .select("vec_id", "score").as[(Long, Double)].collect()
    assert(hits.nonEmpty)
    assert(hits.head._1 == 0L && math.abs(hits.head._2 - 1.0) < 1e-9) // member query finds itself

    // the single root scan carries a non-empty partition filter over
    // (table, bucket_part) — directory pruning for all tables at once
    val probePlan = store.search(spark, path, "embedding", "vec_id", q, 5)
      .queryExecution.executedPlan.toString
    val partFilter = probePlan.split("PartitionFilters: \\[").lift(1).map(_.takeWhile(_ != ']'))
    assert(partFilter.exists(f => f.contains("bucket_part") && f.contains("table")),
      s"expected non-empty partition filter in:\n$probePlan")

    // subset-of-brute with equal scores
    val brute = BruteForceKnn.scored(emb, col("embedding"), q)
      .select("vec_id", "score").as[(Long, Double)].collect().toMap
    hits.foreach { case (id, s) => assert(math.abs(brute(id) - s) < 1e-12) }
  }

  test("incremental append: streamed delta rows become searchable in the existing layout") {
    val sfDir = "/root/testdata/sf0.001"
    val appendPath = "target/test-index/embeddings-lsh-append"
    TestSpark.rmTree(new java.io.File(appendPath))
    val emb = Tables.embeddings(spark, sfDir)
    val store = LshIndexStore(RandomHyperplaneLsh(4, 8, 42L), dim = 64)
    // base layout from the first 400 vectors
    store.write(emb.where(col("vec_id") < 400), "embedding", appendPath)
    val before = spark.read.parquet(appendPath).select("vec_id").distinct().count()
    assert(before == 400)

    // stream the remaining 100 in as micro-batched deltas
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, Array[Float])](spark)
    val delta = emb.where(col("vec_id") >= 400)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
    val q = store.appendStream(mem.toDF().toDF("vec_id", "embedding"), "embedding", appendPath)
    try {
      mem.addData(delta.take(50): _*)
      q.processAllAvailable()
      mem.addData(delta.drop(50): _*)
      q.processAllAvailable()
    } finally q.stop()

    assert(spark.read.parquet(appendPath).select("vec_id").distinct().count() == 500)
    // an appended member is findable with exact score through the same probe
    val late = delta.last
    val hits = store.search(spark, appendPath, "embedding", "vec_id", late._2, 3)
      .select("vec_id", "score").as[(Long, Double)].collect()
    assert(hits.head._1 == late._1 && math.abs(hits.head._2 - 1.0) < 1e-9)
  }

  test("IVF streaming ingest: per-batch drift stats reach the operator callback") {
    // the LSH appendStream twin plus r15's alarm: two micro-batches —
    // one in-distribution, one fully drifted (moved mixture means) —
    // land in the layout AND surface their AppendStats to the
    // callback, quiet then loud, after each append commits
    import graft.index.{IvfIndexStore, IvfKnn}
    val dim = 64
    def mixPoint(centerSeed: Long, id: Long): Array[Float] = {
      val c = id % 25
      val center = Array.tabulate(dim)(j => Fixtures.gauss(centerSeed + c, j))
      val cn = math.sqrt(center.map(x => x * x).sum)
      Array.tabulate(dim)(j =>
        (center(j) / cn + 0.1 * Fixtures.gauss(0xBEEFL + id, j)).toFloat)
    }
    import spark.implicits._
    val base = (0L until 1500L).map(i => (i, mixPoint(0xC0FFEEL, i)))
      .toDF("vec_id", "embedding")
    val cents = IvfKnn.centroids(base, col("vec_id"), col("embedding"), 53L)
    val store = IvfIndexStore(cents)
    val path = "target/test-index/ivf-stream-append"
    TestSpark.rmTree(new java.io.File(path))
    store.write(base, "embedding", path)

    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, Array[Float])](spark)
    val seen = scala.collection.mutable.ArrayBuffer.empty[IvfIndexStore.AppendStats]
    val q = store.appendStream(mem.toDF().toDF("vec_id", "embedding"), "embedding",
      path, onBatch = s => seen.synchronized { seen += s })
    try {
      mem.addData((10000L until 10200L).map(i => (i, mixPoint(0xC0FFEEL, i))): _*)
      q.processAllAvailable()
      mem.addData((20000L until 20200L).map(i => (i, mixPoint(0xD00DL, i))): _*)
      q.processAllAvailable()
    } finally q.stop()

    assert(spark.read.parquet(path).select("vec_id").distinct().count() == 1900)
    val stats = seen.synchronized(seen.toList)
    assert(stats.map(_.rows) == List(200L, 200L), s"batch stats: $stats")
    assert(stats.head.reclusterAdvised().contains(false),
      s"in-distribution micro-batch alarmed: ${stats.head}")
    assert(stats(1).reclusterAdvised().contains(true),
      s"drifted micro-batch stayed quiet: ${stats(1)}")
  }

  test("GraftExtensions registers cosine_similarity for SQL in a fresh session") {
    val prev = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    // new session over the same SparkContext; extensions only apply to
    // newly built sessions, so the existing default must be cleared
    val s2 = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      import s2.implicits._
      Seq((Array(1f, 0f), Array(1f, 0f))).toDF("a", "b").createOrReplaceTempView("v2")
      val r = s2.sql("SELECT cosine_similarity(a, b) AS c FROM v2").as[Double].head()
      assert(math.abs(r - 1.0) < 1e-12)
    } finally {
      prev.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }
}
