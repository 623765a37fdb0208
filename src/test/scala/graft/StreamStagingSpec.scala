package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the replay-input layouts every streaming gate reads (the five
  * `Queries.staged*Dir` inputs) and the session settings the replay
  * runner ([[Queries.runReplay]]) scopes: a regression here (sentinel
  * in the wrong file, a boundary row in both halves, mtime ordering
  * lost, a setting leaked into the session) silently changes what the
  * gates exercise or drops rows as late data, while the oracle hashes
  * may even keep passing.
  */
class StreamStagingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private val sfDir = "/root/testdata/sf0.001"

  private def parquetFiles(dir: String): Array[java.io.File] =
    new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  test("single-phase staging: ONE file, all events + exactly one trailing sentinel") {
    val ev = Tables.events(spark, sfDir)
    val nEvents = ev.count()
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val dir = Queries.stagedEventsReplayDir(spark, sfDir)
    assert(parquetFiles(dir).length === 1,
      "single-phase replay must be ONE data micro-batch")
    val staged = spark.read.parquet(dir)
    assert(staged.count() === nEvents + 1)
    val sentinels = staged.where(col("event_type") === "sentinel").collect()
    assert(sentinels.length === 1)
    val s = sentinels.head
    assert(s.getAs[Long]("user_id") === -1L)
    // 3 h past the horizon: past every real window's end (max + 1 h)
    // after the 2 h watermark delay, and its own windows can't close
    assert(s.getAs[java.sql.Timestamp]("ts").getTime === maxTs.getTime + 3L * 3600 * 1000)
  }

  test("two-phase staging: two files, halves partition at the midpoint, sentinel rides the LATER file") {
    val ev = Tables.events(spark, sfDir)
    val nEvents = ev.count()
    val (minMs, maxMs) = {
      val r = ev.agg(min(col("ts")), max(col("ts"))).head()
      (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime)
    }
    val midMs = minMs + (maxMs - minMs) / 2
    val dir = Queries.stagedEventsTwoPhaseReplayDir(spark, sfDir)
    val files = parquetFiles(dir).sortBy(_.lastModified)
    assert(files.length === 2, "two-phase replay must be TWO data micro-batches")
    assert(files(0).lastModified < files(1).lastModified,
      "mtime order is the replay order — equal mtimes leave it undefined")
    val first = spark.read.parquet(files(0).getAbsolutePath)
    val second = spark.read.parquet(files(1).getAbsolutePath)
    // no row lost, none duplicated across the halves
    assert(first.count() + second.count() === nEvents + 1)
    assert(first.unionByName(second).where(col("event_type") =!= "sentinel")
      .select(col("event_id")).distinct().count() === nEvents)
    // strict partition at the midpoint: a boundary row in BOTH halves
    // would be processed twice; one in NEITHER would be dropped
    assert(first.where(unix_millis(col("ts")) >= midMs).count() === 0,
      "first half must hold only pre-midpoint rows")
    assert(second.where(col("event_type") =!= "sentinel")
      .where(unix_millis(col("ts")) < midMs).count() === 0,
      "second half must hold only post-midpoint rows")
    // both halves non-empty on the gate corpus (a degenerate corpus
    // may legally produce an empty first half; the fixture must not,
    // or the two-phase gates stop exercising cross-batch arrival)
    assert(first.count() > 0, "fixture regression: empty first half")
    // the watermark-release sentinel must arrive in the LAST batch
    assert(first.where(col("event_type") === "sentinel").count() === 0)
    assert(second.where(col("event_type") === "sentinel").count() === 1)
    // the late-data invariant the replay depends on: no second-half
    // row is late w.r.t. the post-batch-1 watermark at ANY gate delay
    // up to 1 h (sesswin's) — i.e. min(half2 ts) >= max(half1 ts) - 1 h
    val maxFirst = first.agg(max(unix_millis(col("ts")))).head().getLong(0)
    val minSecond = second.where(col("event_type") =!= "sentinel")
      .agg(min(unix_millis(col("ts")))).head().getLong(0)
    assert(minSecond >= maxFirst - 3600L * 1000,
      "a second-half row would be dropped as late data")
  }

  test("every staged replay input is one file per batch, replayed in write order") {
    val ev = Tables.events(spark, sfDir)
    val staged = Seq(
      Queries.stagedEventsReplayDir(spark, sfDir) -> 1,
      Queries.stagedEventsTwoPhaseReplayDir(spark, sfDir) -> 2,
      Queries.stagedDedupReplayDir(spark, sfDir) -> 2,
      Queries.stagedIngestDocsDir(spark, sfDir) -> 3,
      Queries.stagedKnnQueryDir(spark, sfDir) -> 5)
    val byMtime = staged.map { case (dir, batches) =>
      val files = parquetFiles(dir).sortBy(_.lastModified)
      assert(files.length === batches, dir)
      assert(files.map(_.lastModified).sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
        s"$dir: equal mtimes leave the replay order undefined")
      files.map(f => spark.read.parquet(f.getAbsolutePath))
    }
    // the batches replay in the order they were written
    val Seq(_, _, dedup, ingest, knn) = byMtime
    assert(dedup(0).count() === ev.count(), "the full copy replays first")
    val maxMs = ev.agg(max(unix_millis(col("ts")))).head().getLong(0)
    assert(dedup(1).where(unix_millis(col("ts")) < maxMs - 3600L * 1000).count() === 0,
      "the redelivered last hour replays second")
    ingest.zip(Seq(1, 3, 5)).foreach { case (f, m) =>
      assert(f.where(pmod(col("doc_id"), lit(6)) =!= m).count() === 0)
    }
    assert(knn.map(_.select(col("vec_id")).collect().map(_.getLong(0)).toSeq) ===
      (0L until 5L).map(Seq(_)))
  }

  test("the replay runner scopes its settings and run tree to the call, also when a batch throws") {
    val scoped = Seq("spark.sql.shuffle.partitions", "spark.sql.streaming.noDataMicroBatches.enabled")
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val hdfs = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    def settings = scoped.map(spark.conf.getOption)
    def runTrees = Option(Artifacts.scratchRoot.toFile.listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("graft_replay_run_")).toSet
    val inDir = Queries.stagedKnnQueryDir(spark, sfDir)
    val schema = spark.read.parquet(inDir).schema
    val before = settings
    val treesBefore = runTrees
    val savedProvider = spark.conf.getOption(provider)
    spark.conf.set(provider, hdfs)
    try {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Option[String]]]()
      val ok = Queries.runReplay(spark, inDir, schema, noDataBatches = false)(
        (stream, out) => stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
          seen.add(scoped.map(batch.sparkSession.conf.getOption))
          batch.write.mode("append").parquet(out)
        },
        identity)
      assert(ok.count() === 5)
      assert(seen.size === 5)
      assert(seen.iterator().next() === Seq(Some("2"), Some("false")))
      val e = intercept[Exception] {
        Queries.runReplay(spark, inDir, schema)(
          (stream, _) => stream.writeStream.foreachBatch { (_: DataFrame, _: Long) =>
            throw new IllegalStateException("batch body failed")
          },
          identity)
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage.contains("batch body failed")), e.toString)
      assert(settings === before)
      assert(spark.conf.get(provider) === hdfs, "the runner must leave a session-set provider alone")
      assert(runTrees === treesBefore, "a run tree outlived its call")
    } finally savedProvider match {
      case Some(v) => spark.conf.set(provider, v)
      case None => spark.conf.unset(provider)
    }
  }
}
