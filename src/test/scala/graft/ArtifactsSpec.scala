package graft

import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Artifacts]], the session-artifact store: one build per (session,
  * scope, name), frames held as cached-relation leaves that survive
  * lost blocks, and entries of stopped sessions released. */
class ArtifactsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("artifact-backed gates return the same rows after every persisted block is dropped") {
    val gates = Seq("simjoin_prefix_collapsed", "dedup_components", "dedup_ingest_stream")
    def rows(g: String): Seq[String] = Queries.all(g)(spark, sf).collect().map(_.toString).toSeq
    val before = gates.map(rows)
    assert(before.forall(_.nonEmpty), before.map(_.size))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(gates.map(rows) == before)
  }

  test("a frame artifact plans as one InMemoryRelation leaf that keeps its partitioning") {
    val f = Artifacts.frame(spark, "artifacts-spec", "leaf")(
      spark.range(0, 200).withColumn("k", col("id") % 7).repartition(8, col("k")))
    assert(f.queryExecution.analyzed.isInstanceOf[InMemoryRelation],
      f.queryExecution.analyzed.treeString)
    assert(Tables.embeddings(spark, sf).queryExecution.analyzed.isInstanceOf[InMemoryRelation])
    // a grouping on the frame's partition key needs no shuffle over it
    val byKey = f.groupBy(col("k")).count()
    val plan = byKey.queryExecution.executedPlan
      .asInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec].inputPlan
    assert(plan.collect { case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      .isEmpty, plan.treeString)
    assert(byKey.collect().map(_.getLong(1)).sum == 200L)
  }

  test("a build runs once per (session, scope, name)") {
    var builds = 0
    def value(scope: String, name: String): Int =
      Artifacts.value(spark, scope, name) { builds += 1; builds }
    assert(value("artifacts-spec-c", "a") == 1)
    assert(value("artifacts-spec-c", "a") == 1)
    assert(value("artifacts-spec-c", "b") == 2)
    assert(value("artifacts-spec-c2", "a") == 3)
    assert(builds == 3)

    var frames = 0
    def frame() = Artifacts.frame(spark, "artifacts-spec-c", "f") { frames += 1; spark.range(5).toDF() }
    assert((frame() eq frame()) && frames == 1)

    var writes = 0
    def staged() = Artifacts.stagedDir(spark, "artifacts-spec-c", "graft_artifacts_spec_") {
      writes += 1
      Seq(spark.range(3).toDF())
    }
    val dir = staged()
    assert(staged() == dir && writes == 1 && spark.read.parquet(dir).count() == 3)
  }

  test("entries of a stopped session are released") {
    // stopping a SparkContext ends every session on it, so the check
    // runs in a child JVM instead of stopping the suite's shared one
    import scala.jdk.CollectionConverters._
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq.filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val work = java.nio.file.Files.createTempDirectory("graft_artifacts_spec_").toFile
    try {
      val pb = new ProcessBuilder((Seq(javaBin) ++ jvmArgs ++ Seq("-cp",
        System.getProperty("java.class.path"), "graft.ArtifactsReleaseCheck")).asJava)
      pb.directory(work).redirectErrorStream(true)
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      p.waitFor()
      assert(out.linesIterator.contains("HELD stopped=0 live=1"), out.takeRight(2000))
    } finally TestSpark.rmTree(work)
  }
}

/** The child JVM of the stopped-session check: fill the store from one
  * session, stop it, look up from a second session, and report which
  * of the two still holds entries. */
object ArtifactsReleaseCheck {
  def main(args: Array[String]): Unit = {
    val first = LocalSpark.builder(1).getOrCreate()
    first.sparkContext.setLogLevel("ERROR")
    Artifacts.value(first, "scope", "model")(Array(1.0, 2.0))
    Artifacts.frame(first, "scope", "frame")(first.range(10).toDF())
    first.stop()
    val second = LocalSpark.builder(1).getOrCreate()
    Artifacts.value(second, "scope", "model")(Array(3.0))
    val held = Artifacts.sessions
    println(s"HELD stopped=${held.count(_ eq first)} live=${held.count(_ eq second)}")
    second.stop()
  }
}
