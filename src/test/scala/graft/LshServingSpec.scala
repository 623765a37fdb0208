package graft

import graft.index.{IndexCache, IndexGenerations, RandomHyperplaneLsh}
import graft.plans.LshProbeRewrite
import graft.search.{AtRestIndexBridge, SearchService}
import graft.state.{Engine, LibrarySnapshot}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ListenerBusDrain
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** What one lsh search costs on each serving tier, over the store shape
  * the serving benchmark drives: two libraries of 8,000 64-d chunks from
  * a 32-centre mixture, `libA` registered at rest (8 tables x 12 planes)
  * and `libB` served through the `IndexCache`. */
class LshServingSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val spark = TestSpark.spark
  private val root = "target/test-index/lsh-serving"
  private val n = 8000
  private val dim = 64

  private def unit(v: Array[Float]): Array[Float] = {
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / norm)
  }

  /** The corpus both libraries hold; chunk i's embedding. */
  private lazy val vectors: IndexedSeq[Array[Float]] = {
    val rng = new scala.util.Random(17)
    val centres = Array.fill(32)(unit(Array.fill(dim)(rng.nextGaussian().toFloat)))
    IndexedSeq.fill(n)(unit(centres(rng.nextInt(32)).map(c => c + (0.03 * rng.nextGaussian()).toFloat)))
  }

  import LshServingSpec.Fixture
  private var built = false

  private lazy val fixture: Fixture = {
    built = true
    TestSpark.rmTree(new java.io.File(root))
    IndexGenerations.clear()
    val engine = new Engine()
    for (lib <- Seq("libA", "libB")) {
      engine.createLibrary(name = lib, id = Some(lib))
      val docs = (0 until 20).map(d => engine.addDocument(lib, title = s"d$d", id = Some(s"$lib-d$d")).id)
      vectors.zipWithIndex.foreach { case (v, i) =>
        engine.addChunk(lib, docs(i % 20), s"chunk $i", Some(v), id = Some(f"$lib-c$i%05d")): Unit
      }
    }
    val bridge = new AtRestIndexBridge(root)
    val path = bridge.register(spark, engine, "libA")
    val cache = new IndexCache()
    Fixture(engine, path, new SearchService(spark, engine, indexCache = Some(cache),
      atRest = Some(bridge)), cache)
  }

  override def afterAll(): Unit = if (built) {
    LshProbeRewrite.unregister(fixture.layoutPath)
    fixture.cache.clear()
  }

  private def search(lib: String, index: String, q: Array[Float]) =
    fixture.service.search(lib, queryEmbedding = Some(q), k = 5, index = index)

  test("lsh searches compile no code after warm-up, at rest and through the IndexCache") {
    val classes = Seq(
      ("brute", "libB", "brute", "brute"),
      ("lsh at rest", "libA", "lsh", "lsh_at_rest"),
      ("lsh cached", "libB", "lsh", "lsh"))
    val added = classes.map { case (name, lib, index, used) =>
      def run(i: Int): Unit = {
        val r = search(lib, index, vectors(i))
        assert(r.indexUsed.contains(used), s"$name served by ${r.indexUsed}")
        assert(r.hits.size == 5, s"$name: ${r.hits}")
      }
      (0 until 3).foreach(i => run(100 + i))
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (0 until 10).foreach(i => run(1000 + 373 * i))
      name -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
    }
    assert(added.forall(_._2 == 0), s"compiles added by 10 searches: ${added.mkString(", ")}")
  }

  test("an at-rest probe reads under a quarter of the layout's rows and serves the bucket hits") {
    val sc = spark.sparkContext
    val layoutRows = spark.read.parquet(fixture.layoutPath).count()
    assert(layoutRows == 8L * n)
    val q = vectors(4242)
    var read = 0L
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) synchronized { read += e.taskMetrics.inputMetrics.recordsRead }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val res =
      try { val r = search("libA", "lsh", q); ListenerBusDrain(sc); r }
      finally sc.removeSparkListener(listener)
    assert(res.indexUsed.contains("lsh_at_rest"))
    assert(read > 0 && read < layoutRows / 4, s"$read of $layoutRows layout rows read")
    // the same exact-bucket candidate union, hashed per row from the
    // library's own chunks, then the exact rerank
    val (want, _) = RandomHyperplaneLsh(8, 12, 42L).search(
      LibrarySnapshot(spark, fixture.engine.state, "libA").frame,
      col("embedding"), col("id"), q, 5)
    val wanted = want.select("id", "score").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(res.hits.map(_.chunk_id) == wanted.map(_._1).toSeq)
    res.hits.zip(wanted).foreach { case (h, (_, s)) => assert(math.abs(h.score - s) < 1e-9) }
  }
}

object LshServingSpec {
  private final case class Fixture(engine: Engine, layoutPath: String, service: SearchService,
                                   cache: IndexCache)
}
