package servebench

import scala.collection.mutable

import graft.api.HttpApi
import graft.index.{IndexCache, RandomHyperplaneLsh}
import graft.search.{AtRestIndexBridge, SearchService}
import graft.state.Engine
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A traffic mix: closed-loop clients, and whether a fifth of the
  * requests are writes. */
final case class Workload(name: String, clients: Int, writes: Boolean)

object Workload {
  val all: Seq[Workload] = Seq(
    Workload("serve_read", clients = 2, writes = false),
    Workload("serve_write_mix", clients = 1, writes = true))
}

final case class Metric(name: String, value: Double, unit: String, n: Int)

/** The engine as a user reaches it: a seeded store ingested through
  * `Engine`, libA registered at rest, the REST API on loopback, and
  * libB's index-cache entry built by one lsh search. */
final class Deployment(spark: SparkSession, corpus: Corpus, dir: String) {
  private val t0 = System.nanoTime()
  val engine = new Engine()
  corpus.ingest(engine)
  val ingestS: Double = (System.nanoTime() - t0) / 1e9
  val bridge = new AtRestIndexBridge(baseDir = dir)
  private val t1 = System.nanoTime()
  val layoutPath: String = bridge.register(spark, engine, "libA")
  val registerS: Double = (System.nanoTime() - t1) / 1e9
  val api = new HttpApi(spark, engine, Embed.embedder, Some(bridge))
  val port: Int = api.start(0)
  val client = new RestClient(port, corpus)
  private val warm = client.run(SearchReq("lsh_b", "libB", Some(corpus.centres(0)), None, None))
  require(warm.ok, s"the first libB search failed: ${client.failures}")
  val setupS: Double = (System.nanoTime() - t0) / 1e9

  def stop(): Unit = {
    api.stop()
    graft.plans.LshProbeRewrite.unregister(layoutPath)
    spark.catalog.clearCache()
  }
}

/** One benchmark run of a serving workload. */
final class ServeRun(spark: SparkSession, w: Workload, seed: Long, seconds: Int, workDir: String) {
  import ServeRun._

  private val corpus = new Corpus(seed)
  val samples = mutable.ArrayBuffer.empty[Sample]
  val failures = mutable.ArrayBuffer.empty[String]

  /** Set up `Setups` times, keeping the last deployment to serve. */
  private def deploy(): (Deployment, Seq[Double]) = {
    val ds = (1 to Setups).map { i =>
      val d = new Deployment(spark, corpus, s"$workDir/at-rest-$i")
      if (i < Setups) d.stop()
      d
    }
    (ds.last, ds.map(_.setupS))
  }

  /** Closed loop: each client sends its next request when the previous
    * one has returned, until `secs` have passed or it has sent
    * `maxPerClient`. Returns per-client samples and the window length in
    * seconds. */
  private def closedLoop(d: Deployment, gens: Seq[Iterator[Req]], secs: Double,
                         maxPerClient: Int = Int.MaxValue): (Seq[Seq[Sample]], Double) = {
    val t0 = System.nanoTime()
    val deadline = t0 + (secs * 1e9).toLong
    val perClient = gens.map(_ => mutable.ArrayBuffer.empty[Sample])
    val threads = gens.zip(perClient).map { case (g, out) =>
      new Thread(() => while (System.nanoTime() < deadline && out.size < maxPerClient) out += d.client.run(g.next()))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val all = perClient.flatten
    all.foreach(samples += _)
    val end = if (all.isEmpty) System.nanoTime() else all.map(_.endNs).max
    (perClient.map(_.toSeq), (end - t0) / 1e9)
  }

  /** Untimed requests first, so JIT compilation and Spark's code
    * generation settle before the window opens. A count, not a time, so
    * a seed always times the same requests. */
  private def warmUp(d: Deployment, gens: Seq[Iterator[Req]]): Unit =
    closedLoop(d, gens, WarmUpLimitS, WarmUpPerClient): Unit

  private def finish(d: Deployment): Unit = {
    failures ++= scala.jdk.CollectionConverters.IterableHasAsScala(d.client.failures).asScala
    d.stop()
  }

  def attempted: Int = samples.size
  def failed: Int = samples.count(!_.ok)

  /** The untraced run: the end-to-end metrics. */
  def endToEnd(): Seq[Metric] = {
    val (d, setups) = deploy()
    val gens = (0 until w.clients).map(c => Req.sequence(corpus, seed, c, w.writes))
    warmUp(d, gens)
    val (perClient, window) = closedLoop(d, gens, seconds)
    val heap = heapMb()
    finish(d)
    val all = perClient.flatten
    val searches = all.filter(s => Req.SearchClasses.contains(s.cls))
    val brute = searches.filter(s => s.cls == "brute" || s.cls == "text").map(_.ms)
    val lsh = searches.filter(_.cls.startsWith("lsh")).map(_.ms)
    val recalls = perClient.flatMap(_.filter(_.recall.isDefined).take(RecallPerRun / w.clients).flatMap(_.recall))
    val writes = all.filter(s => Req.WriteClasses.contains(s.cls)).map(_.ms)
    if (Stats.tailPercentile(searches.size).forall(_ < 0.75))
      System.err.println(s"warning: ${searches.size} searches leave fewer than ten beyond p75")
    Seq(
      Metric("setup_s", Stats.median(setups), "s", setups.size),
      Metric("search_brute_p50_ms", Stats.median(brute), "ms", brute.size),
      Metric("search_lsh_p50_ms", Stats.median(lsh), "ms", lsh.size),
      Metric("search_p75_ms", Stats.percentile(searches.map(_.ms), 0.75), "ms", searches.size),
      Metric("ops_per_s", all.size / window, "1/s", all.size),
      Metric("lsh_recall_at_5", Stats.mean(recalls), "ratio", recalls.size),
      Metric("heap_mb", heap, "MB", HeapReadings)) ++
      // reported, not gated: serve_read has no writes, and error_rate is 0
      // on a correct engine
      (if (writes.nonEmpty) Seq(Metric("write_p50_ms", Stats.median(writes), "ms", writes.size)) else Nil) ++
      Seq(Metric("error_rate", if (all.isEmpty) 1.0 else all.count(!_.ok).toDouble / all.size, "ratio", all.size))
  }

  /** The traced run: a closed-loop phase and an untraced one-client
    * replay (both without listeners), then a one-client replay of the
    * same sequence with listeners attached, where every request goes
    * through REST, then through the direct `SearchService`/`Engine`
    * call on a shadow engine holding the same state, then through the
    * sub-layer calls on their own. Returns per-layer metrics and the
    * spans behind them. */
  def traced(sessionStartS: Double, tracer: Tracer): (Seq[Metric], Seq[Span]) = {
    val (d, _) = deploy()
    val loopGens = (0 until w.clients).map(c => Req.sequence(corpus, seed, c, w.writes))
    warmUp(d, loopGens)
    val (loop, _) = closedLoop(d, loopGens, seconds / 2.0)
    val replay = Req.sequence(corpus, seed, ReplayStream, w.writes)
    val (single, _) = closedLoop(d, Seq(replay), seconds / 2.0)

    // the shadow store answers the direct calls; it shares the bridge,
    // so libA serves at rest exactly when it does behind REST
    val shadow = new Engine()
    corpus.ingest(shadow)
    val lsh = RandomHyperplaneLsh(8, 12)
    val serviceCache = new IndexCache()
    val probeCache = new IndexCache()
    val service = new SearchService(spark, shadow, Some(Embed.embedder),
      indexCache = Some(serviceCache), atRest = Some(d.bridge))
    def direct(q: SearchReq) = service.search(q.lib, queryText = q.text, queryEmbedding = q.emb,
      k = RestClient.K, index = q.index, filters = q.tpe.map("type" -> _).toMap)
    direct(SearchReq("lsh_b", "libB", Some(corpus.centres(0)), None, None))
    val lastBucketed = mutable.HashMap[String, DataFrame](
      "libB" -> serviceCache.bucketed(shadow, spark, "libB", lsh, Corpus.Dim))
    val planes = lsh.planes(Corpus.Dim)
    val buckets = mutable.HashMap.empty[String, (Array[Float], Array[Int])]
    def bucketsOf(v: Array[Float]): Array[Int] = planes.map(p => lsh.hash(v.toSeq, p))
    def chunkBuckets(c: MChunk): Array[Int] = buckets.get(c.id) match {
      case Some((e, b)) if e eq c.emb => b
      case _ => val b = bucketsOf(c.emb); buckets(c.id) = (c.emb, b); b
    }

    tracer.attach(spark)
    val windows = mutable.ArrayBuffer.empty[Span]
    final case class Traced(cls: String, rest: Sample, direct: Span, atRest: Boolean = false,
                            fallback: Boolean = false, cacheHit: Option[Boolean] = None,
                            candidates: Option[Int] = None, rowsScored: Option[Int] = None)
    val traced = mutable.ArrayBuffer.empty[Traced]
    val deadline = System.nanoTime() + seconds * 1000000000L
    var reqId = 0
    while (System.nanoTime() < deadline) {
      val req = replay.next()
      val root = tracer.reserve()
      val rootStart = System.nanoTime()
      // update and delete pick their chunk from the mirror before REST
      // changes it
      val target = req match {
        case u: UpdateReq => Some(corpus.pick(u.lib, u.u))
        case x: DeleteReq => Some(corpus.pick(x.lib, x.u))
        case _ => None
      }
      val rest = d.client.run(req)
      samples += rest
      windows += tracer.record(root, reqId, "api.rest", rest.startNs, rest.endNs)
      if (rest.ok) req match {
        case q: SearchReq =>
          val (dSpan, res) = tracer.span(root, reqId, "search.direct")(direct(q))
          windows += dSpan
          windows += tracer.span(root, reqId, "state.snapshot")(shadow.chunksDF(spark))._1
          q.text.foreach(t => windows += tracer.span(root, reqId, "embed.embed")(Embed.embedder.embedAt(t, Corpus.Dim))._1)
          val used = res.indexUsed.getOrElse("")
          val atRest = used.endsWith("_at_rest")
          val qv = d.client.queryVector(q)
          var hit: Option[Boolean] = None
          var cands: Option[Int] = None
          if (q.index == "lsh") {
            val qb = bucketsOf(qv)
            cands = Some(corpus.chunks(q.lib, None).count { c =>
              val b = chunkBuckets(c); b.indices.exists(i => b(i) == qb(i))
            })
            if (!atRest) {
              val df = serviceCache.bucketed(shadow, spark, q.lib, lsh, Corpus.Dim)
              val wasHit = lastBucketed.get(q.lib).exists(_ eq df)
              lastBucketed(q.lib) = df
              hit = Some(wasHit)
              if (!wasHit) {
                windows += tracer.span(root, reqId, "index.cache_build") {
                  probeCache.bucketed(shadow, spark, q.lib, lsh, Corpus.Dim).count()
                }._1
                probeCache.invalidate(q.lib)
              }
            }
          }
          traced += Traced(q.cls, rest, dSpan, atRest, fallback = q.index == "lsh" && used == "brute",
            cacheHit = hit, candidates = cands,
            rowsScored = if (q.index == "brute") Some(corpus.chunks(q.lib, q.tpe).size) else None)
        case a: AddReq =>
          val id = corpus.lastId(a.lib)
          val (s, _) = tracer.span(root, reqId, "state.direct")(
            shadow.addChunk(a.lib, a.doc, a.text, Some(a.emb), Map("type" -> a.tpe), id = Some(id)))
          windows += s; traced += Traced(a.cls, rest, s)
        case u: UpdateReq =>
          val c = target.get
          val (s, _) = tracer.span(root, reqId, "state.direct")(
            shadow.updateChunk(u.lib, c.doc, c.id, text = Some(u.text), embedder = Some(Embed.embedder)))
          windows += s; traced += Traced(u.cls, rest, s)
        case x: DeleteReq =>
          val c = target.get
          val (s, _) = tracer.span(root, reqId, "state.direct")(shadow.deleteChunk(x.lib, c.doc, c.id))
          windows += s; traced += Traced(x.cls, rest, s)
      }
      tracer.recordAs(root, -1, reqId, "request", rootStart, System.nanoTime())
      reqId += 1
    }
    tracer.drain()
    val spans = tracer.attribute(windows.toSeq)
    val resident = d.engine.state.chunks.size
    finish(d)

    val children = spans.filter(s => s.parent >= 0 && (s.name.startsWith("exec.") || s.name == "plans.query"))
      .groupBy(_.parent)
    def kids(s: Span, name: String) = children.getOrElse(s.id, Nil).filter(_.name == name)
    def sumAttr(s: Span, name: String, attr: String) = kids(s, name).map(_.attrs.getOrElse(attr, 0.0)).sum
    def jobMs(s: Span) = Stats.unionLength(kids(s, "exec.job").map(j => (j.startNs, j.endNs))) / 1e6
    def of(cls: String) = traced.filter(_.cls == cls).toSeq
    def med(xs: Seq[Double]) = Stats.median(xs)
    def spanMs(name: String) = spans.filter(_.name == name).map(_.ns / 1e6)

    val lshReqs = traced.filter(_.cls.startsWith("lsh")).toSeq
    val aReqs = of("lsh_a")
    val cacheChecks = traced.flatMap(_.cacheHit)
    val searchOf = (xs: Seq[Sample]) => xs.filter(s => Req.SearchClasses.contains(s.cls)).map(_.ms)
    val writeOf = (xs: Seq[Sample]) => xs.filter(s => Req.WriteClasses.contains(s.cls)).map(_.ms)
    val tracedRest = traced.map(_.rest).toSeq
    def diff(a: Seq[Double], b: Seq[Double]) = if (a.isEmpty || b.isEmpty) 0.0 else med(a) - med(b)

    val perClass = Req.SearchClasses.flatMap { c =>
      val xs = of(c)
      val n = xs.size
      def m(name: String, unit: String, f: Traced => Double) = Metric(name + "." + c, med(xs.map(f)), unit, n)
      Seq(
        m("api.self_ms", "ms", t => t.rest.ms - t.direct.ns / 1e6),
        m("search.service_ms", "ms", _.direct.ns / 1e6),
        Metric("search.jobs_per_req." + c, Stats.mean(xs.map(t => kids(t.direct, "exec.job").size.toDouble)), "count", n),
        m("plans.analysis_ms", "ms", t => sumAttr(t.direct, "plans.query", "analysis_ms")),
        m("plans.optimization_ms", "ms", t => sumAttr(t.direct, "plans.query", "optimization_ms")),
        m("plans.planning_ms", "ms", t => sumAttr(t.direct, "plans.query", "planning_ms")),
        m("exec.job_ms", "ms", t => jobMs(t.direct)),
        m("exec.task_cpu_ms", "ms", t => sumAttr(t.direct, "exec.stage", "task_cpu_ms")),
        m("exec.tasks", "count", t => sumAttr(t.direct, "exec.stage", "tasks")),
        m("exec.shuffle_mb", "MB", t => sumAttr(t.direct, "exec.stage", "shuffle_mb")),
        m("exec.gc_ms", "ms", t => sumAttr(t.direct, "exec.stage", "gc_ms")),
        m("exec.driver_gap_ms", "ms", t => Stats.selfTime((t.direct.startNs, t.direct.endNs),
          kids(t.direct, "exec.job").map(j => (j.startNs, j.endNs))) / 1e6))
    }
    val writes = Req.WriteClasses.map(of)
    val metrics = Seq(
      Metric("spark.session_start_s", sessionStartS, "s", 1),
      Metric("bench.trace_overhead_ms", diff(searchOf(tracedRest), searchOf(single.flatten)), "ms", tracedRest.size),
      Metric("api.self_ms.write", med(writes.flatten.map(t => t.rest.ms - t.direct.ns / 1e6)), "ms", writes.flatten.size),
      Metric("api.queue_ms.search", diff(searchOf(loop.flatten), searchOf(single.flatten)), "ms", loop.flatten.size),
      Metric("api.queue_ms.write", diff(writeOf(loop.flatten), writeOf(single.flatten)), "ms", writeOf(loop.flatten).size),
      Metric("state.snapshot_ms", med(spanMs("state.snapshot")), "ms", spanMs("state.snapshot").size),
      Metric("state.ingest_s", d.ingestS, "s", 1),
      Metric("state.resident_chunks", resident.toDouble, "count", 1)) ++
      Req.WriteClasses.zip(writes).map { case (c, xs) =>
        Metric("state.write_us." + c, med(xs.map(_.direct.ns / 1e3)), "us", xs.size)
      } ++ Seq(
      Metric("search.at_rest_share", Stats.mean(aReqs.map(t => if (t.atRest) 1.0 else 0.0)), "ratio", aReqs.size),
      Metric("search.lsh_fallback_share", Stats.mean(lshReqs.map(t => if (t.fallback) 1.0 else 0.0)), "ratio", lshReqs.size),
      Metric("embed.embed_us", med(spans.filter(_.name == "embed.embed").map(_.ns / 1e3)), "us", of("text").size),
      Metric("index.at_rest_register_s", d.registerS, "s", 1),
      Metric("index.cache_build_ms", med(spanMs("index.cache_build")), "ms", spanMs("index.cache_build").size),
      Metric("index.cache_hit_ratio", Stats.mean(cacheChecks.map(h => if (h) 1.0 else 0.0).toSeq), "ratio", cacheChecks.size),
      Metric("index.lsh_candidates_per_hit", Stats.mean(lshReqs.flatMap(_.candidates).map(_.toDouble / RestClient.K)),
        "count", lshReqs.size),
      Metric("index.brute_rows_scored", med(traced.flatMap(_.rowsScored).map(_.toDouble).toSeq), "count",
        traced.count(_.rowsScored.isDefined)),
      Metric("index.files_read_per_query", Stats.mean(aReqs.map(t => sumAttr(t.direct, "plans.query", "files"))),
        "count", aReqs.size),
      Metric("plans.lsh_rewrite_ms", Stats.mean(lshReqs.map(t => sumAttr(t.direct, "plans.query", "lsh_rewrite_ms"))),
        "ms", lshReqs.size)) ++ perClass
    (metrics, spans)
  }
}

object ServeRun {
  /** Set-ups per run; setup_s is their median. */
  val Setups = 3
  /** lsh searches per run whose recall is averaged, split over the
    * clients and taken from the start of each client's sequence, so a
    * seed gives the same recall however fast the run goes. */
  val RecallPerRun = 32
  val HeapReadings = 3
  val WarmUpPerClient = 6
  val WarmUpLimitS = 30.0
  /** The traced replay's request stream, distinct from the clients'. */
  val ReplayStream = 100

  /** Heap in use after a full collection: the least of a few readings,
    * each after its own `System.gc()`. */
  def heapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to HeapReadings).map { _ =>
      System.gc()
      Thread.sleep(200)
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min
  }
}
