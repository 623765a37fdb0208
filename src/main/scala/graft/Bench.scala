package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.graft.ListenerBusDrain

import java.util.concurrent.atomic.AtomicLong

/** Accumulating job/stage/shuffle counters. Queries run sequentially,
  * so per-query metrics are before/after deltas — provided the
  * listener bus is drained between queries (see
  * [[org.apache.spark.sql.graft.ListenerBusDrain]]).
  */
private final class BenchListener extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val gcMillis = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      gcMillis.addAndGet(m.jvmGCTime)
    }
  }
  def snap: (Long, Long, Long, Long) =
    (jobs.get, stages.get, shuffleRead.get + shuffleWrite.get, gcMillis.get)
}

/** Headline bench: every SparkEntry query at the env-selected SF,
  * median of 3 timed runs per query, with per-query Spark job/stage
  * counts and shuffle bytes so a wall-clock swing can be attributed
  * (same job/stage/shuffle profile ⇒ ambient load or JIT/GC, not a
  * plan change — the round-3/round-4 events-family "drift" was
  * unattributable precisely because this instrument was missing).
  *
  * Run 1 of a query absorbs its one-time builds (stream-input
  * staging, crud lifecycle state, LSH bucketed layout when not
  * prewarmed); the MEDIAN therefore reports the steady state of a
  * resident engine — the same operating point the table warmup
  * already argues for, and the honest comparison to the reference,
  * which holds its corpus and indexes in process memory.
  *
  * Output contract: stdout carries ONE COMPACT JSON line — only the
  * driver-facing fields (`metric/value/queries/sf` + run counts).
  * The per-query forensics (`{runs_sec, jobs, stages, shuffle_mb,
  * gc_ms, runs:[...]}`) go to a FILE (`docs/BENCH_FORENSICS.json`,
  * overridable via SPARK_GRAFT_BENCH_OUT), not stdout: rounds 7-8
  * proved that inlining them grows the line past the driver's output
  * tail capture, and the driver then records `parsed: null` — an
  * unparseable artifact is worse than a slim one. The committed
  * per-round `docs/BENCH_FULL_r{N}.json` copies keep the evidence.
  */
object Bench {

  /** JSON string escape for env-sourced values (paths) interpolated
    * into the stdout line — a quote or backslash in SPARK_GRAFT_BENCH_OUT
    * or SPARK_GRAFT_SF_DIR must not yield an unparseable line.
    */
  private def jsonStr(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }

  /** The ambient canary timed in every forked confirmation JVM: a
    * frozen mid-weight batch gate whose plan has been stable since the
    * r10 freeze and whose inputs are absolute-path parquet (so it is
    * immune to the fork's isolated working directory). If the canary
    * itself reads inflated in the fork, the MACHINE is loaded and the
    * suspect's slow fresh run classifies `ambient` (r14 verdict #1b). */
  private[graft] val canaryGate = "q1_pricing_summary"

  /** Fork one suspect's confirmation run into a FRESH JVM ([[BenchOne]]
    * on this JVM's own classpath and flags) and parse its warm medians
    * — the suspect's and the [[canaryGate]]'s, timed in the same JVM.
    * In r13 the in-session adjudication rerun inherited the session's
    * GC distress and "confirmed" a 4.9 s-warm gate at 17.97 s — the one
    * failure mode a same-JVM rerun is structurally blind to.
    *
    * The fork runs in an ISOLATED temp working directory (r14 ADVICE,
    * medium): the gate-index / gate-fixture paths are cwd-relative, so
    * a fork sharing the parent's cwd would rewrite the
    * `target/gate-index` trees with mode(overwrite) UNDER the parent's
    * cached FileIndexes — a later in-session rerun of any gate sharing
    * that layout then dies on FileNotFoundException and the
    * death-always-flags rule records a false reproduction. The fork
    * pays an honest cold rebuild of any layout it needs (run 1; the
    * median of 3 absorbs it) and its tree is deleted afterwards.
    *
    * Returns None when the fork cannot launch or prints no verdict
    * line (the caller then lets the in-session verdict stand — loud,
    * never a silent pass); a parsed negative suspect median means the
    * query DIED fresh (BenchOne catches per-run failures and prints
    * -1.0), which [[BenchBudget.adjudicate]] flags as `died_fresh`.
    */
  private[graft] def freshJvmRerun(sfDir: String)(name: String): Option[BenchBudget.FreshRun] = {
    val workDir =
      try java.nio.file.Files.createTempDirectory("graft_fork_").toFile
      catch { case _: Throwable => return None }
    try {
      import scala.jdk.CollectionConverters._
      val javaBin = java.nio.file.Paths.get(
        System.getProperty("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
      // suspect first (its timing must not ride the canary's JIT),
      // canary second; skip the canary when the suspect IS the canary
      val gateArg = if (name == canaryGate) name else s"$name,$canaryGate"
      val cmd = (Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", System.getProperty("java.class.path"),
          "graft.BenchOne", gateArg, sfDir)).asJava
      val pb = new ProcessBuilder(cmd)
      pb.directory(workDir)
      pb.redirectErrorStream(true)
      val p = pb.start()
      // drain stdout on a daemon thread (a full pipe buffer would
      // deadlock the child against our bounded wait below)
      val buf = new java.io.ByteArrayOutputStream()
      val drainer = new Thread(() =>
        try p.getInputStream.transferTo(buf) catch { case _: Throwable => })
      drainer.setDaemon(true)
      drainer.start()
      // bounded wait: a hung fresh JVM must not hang the whole bench —
      // 15 min covers BenchOne's 3 runs of any gate with a wide margin
      if (!p.waitFor(900, java.util.concurrent.TimeUnit.SECONDS)) p.destroyForcibly()
      drainer.join(5000)
      val out = buf.toString(java.nio.charset.StandardCharsets.UTF_8)
      def median(gate: String): Option[Double] = {
        val re = ("(?m)^BENCHONE_MEDIAN " +
          java.util.regex.Pattern.quote(gate) + " (-?[0-9.]+)$").r
        re.findFirstMatchIn(out).map(_.group(1).toDouble)
      }
      median(name).map(m => BenchBudget.FreshRun(m, median(canaryGate).filter(_ => name != canaryGate)))
    } catch { case _: Throwable => None }
    finally FileTree.delete(workDir)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = LocalSpark.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)
    // Warm the engine once before timing: fully READ every table (a
    // noop-format write decodes all columns — `count()` on parquet is
    // metadata-only and leaves the first real query paying the cold
    // column-decode + page-cache cost). Steady-state is the honest
    // operating point of a resident engine — the reference holds its
    // corpus in process memory. Reported separately as `warmup_sec`.
    val w0 = System.nanoTime()
    Seq("lineitem", "orders", "customer", "nation", "region",
        "part", "supplier", "documents", "embeddings").foreach { t =>
      try Tables.load(spark, sfDir, t).write.mode("overwrite").format("noop").save()
      catch { case _: Throwable => }
    }
    try Tables.events(spark, sfDir).write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => }
    // Pre-build the at-rest LSH bucketed layout: knn_lsh_cached exists
    // to bench the rebuild-free SERVING path (the layout is built once
    // per dataset and resident thereafter — same steady-state argument
    // as the table warmup above; a cold build would time build+probe
    // and bury the serving win it demonstrates).
    try Queries.knnLshCached(spark, sfDir).count()
    catch { case _: Throwable => }
    // Warm the dedup tier's code path once: dedup_minhash's first-ever
    // run pays shingle-UDF + signature JIT plus the first scratch-cache
    // materialization (~7-8 s of one-time cost at sf0.1 vs ~1 s steady
    // state in the r12 forensics). Paying it in warmup keeps run 1
    // comparable to runs 2-3 — the same steady-state argument as the
    // table read above. The scratch cache itself is released before
    // every timed run below, so this warms JIT/page cache only, never
    // subsidizes a timed materialization.
    try SparkEntry.queries("dedup_minhash")(spark, sfDir).count()
    catch { case _: Throwable => }
    // Warm the prefix-join tier the same way: simjoin_prefix_collapsed's
    // first run builds the per-snapshot collapse artifacts (session-
    // cached membership + representative shingles) and JITs the
    // prefix/intersect path — one-time costs of a resident engine, paid
    // here so run 1 measures the same steady-state join as runs 2-3
    // (r13's one over_time flag: cold/warm 3.1x, 13-14 s gc_ms bursts).
    try SparkEntry.queries("simjoin_prefix_collapsed")(spark, sfDir).count()
    catch { case _: Throwable => }
    val warmup = (System.nanoTime() - w0) / 1e9
    // Deterministic name order: a Map's iteration order reshuffles when
    // entries are added, silently changing which query inherits
    // cold-JIT / GC debt between rounds — sorted order keeps
    // round-over-round per-query numbers comparable.
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val runs = (1 to 3).map { _ =>
        // release the dedup tier's scratch caches OUTSIDE the timed
        // window, synchronously: every timed run then pays exactly one
        // honest materialization and never overlaps the previous
        // generation's async block eviction (the r12 driver artifact's
        // 4-25x GC inflation on the dedup gates)
        graft.dedup.Dedup.releaseScratch(spark)
        ListenerBusDrain(spark.sparkContext)
        val before = listener.snap
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
        ListenerBusDrain(spark.sparkContext)
        val after = listener.snap
        val sec = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        (sec, after._1 - before._1, after._2 - before._2, after._3 - before._3,
          after._4 - before._4)
      }
      // median by wall time; report the median run's metric deltas
      val med = runs.sortBy(_._1).apply(1)
      (name, med, runs)
    }
    val qs = results.map { case (k, med, _) => s"\"" + k + "\":" + med._1 }
      .mkString("{", ",", "}")
    val metrics = results.map { case (k, med, runs) =>
      val runsJson = runs.map(_._1).map(t => f"$t%.4f").mkString("[", ",", "]")
      // per-RUN forensics: an outlier run (e.g. r6's 9.5 s third run of
      // range_join_events_orders vs 0.8-0.9 for runs 1-2) is
      // adjudicable from the artifact — same jobs/stages/shuffle but
      // inflated gc_ms or just wall time ⇒ ambient; a different
      // job/stage profile ⇒ a plan change. Median-run keys stay for
      // round-over-round comparability.
      val perRun = runs.map { r =>
        f"""{"sec":${r._1}%.4f,"jobs":${r._2},"stages":${r._3},"shuffle_mb":${r._4 / 1e6}%.2f,"gc_ms":${r._5}}"""
      }.mkString("[", ",", "]")
      f""""$k":{"runs_sec":$runsJson,"jobs":${med._2},"stages":${med._3},"shuffle_mb":${med._4 / 1e6}%.2f,"gc_ms":${med._5},"runs":$perRun}"""
    }.mkString("{", ",", "}")
    // A query that throws keeps its -1.0 sentinel in `queries` (so the
    // per-query key is visibly red) but is EXCLUDED from the headline
    // total and NAMED in `failed`: summing sentinels understates total
    // time, and an rc-0 artifact with no failure signal let round 9's
    // seven dead queries masquerade as a faster run.
    val failedNames = results.collect { case (k, med, _) if med._1 < 0 => k }
    val total = results.map(_._2._1).filter(_ >= 0).sum
    val failedJson = failedNames.map(n => "\"" + jsonStr(n) + "\"")
      .mkString("[", ",", "]")
    // ---- frozen per-query budgets (BENCH_BUDGET.json) -------------
    // Anchors are committed once (r10 medians + profile signature)
    // and NOT re-frozen per round. Flagging rules live in
    // [[BenchBudget]] (unit-tested there): `over_budget` = min run
    // over 2× budget AND profile moved; `over_time_same_profile` =
    // median over 3× anchor with an UNCHANGED profile, auto-
    // adjudicated by one immediate re-run (a genuine same-plan
    // regression reproduces; the r11 driver run's 9.5× hard_negatives
    // with a byte-identical profile would have self-resolved here).
    // Queries without an anchor (added after the freeze) are skipped
    // and picked up at the next freeze.
    // The load result is NEVER silent: `budget_status` says whether
    // anchors were actually applied. A cwd other than the repo root,
    // or a malformed budget file, would otherwise report over_budget
    // as [] — indistinguishable from "all queries within budget" —
    // and a real regression would ship unflagged (the same loud-
    // pointer rule the forensics write below follows).
    val budgetPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BUDGET", "BENCH_BUDGET.json")).toAbsolutePath
    val (anchors, budgetStatus): (Map[String, BenchBudget.Anchor], String) =
      if (!java.nio.file.Files.exists(budgetPath))
        (Map.empty, s"missing:$budgetPath")
      else try {
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readAllBytes(budgetPath))
        val m = root.fields()
        val b = Map.newBuilder[String, BenchBudget.Anchor]
        while (m.hasNext) {
          val e = m.next()
          b += e.getKey -> BenchBudget.Anchor(
            e.getValue.get("anchor_sec").asDouble(),
            e.getValue.get("budget_sec").asDouble(),
            e.getValue.get("jobs").asLong(),
            e.getValue.get("stages").asLong(),
            e.getValue.get("shuffle_mb").asDouble())
        }
        (b.result(), s"ok:${root.size()} anchors")
      } catch {
        case e: Throwable =>
          (Map.empty, s"error:${e.getClass.getSimpleName}:" +
            Option(e.getMessage).getOrElse("").take(80))
      }
    val queryRuns = results.map { case (k, med, runs) =>
      val ok = runs.map(_._1).filter(_ >= 0)
      k -> BenchBudget.QueryRun(med._1, if (ok.nonEmpty) ok.min else -1.0,
        med._2, med._3, med._4 / 1e6)
    }
    val overBudget = BenchBudget.overBudget(queryRuns, anchors)
    // the suite-level machine-load reading, machine-readable at last
    // (r15 verdict Next #6): medians/anchors over UNCHANGED-profile
    // gates — ~1.0 on a calm host, 1.3+ on an ambient-loaded session
    val ambientFactor = BenchBudget.suiteAmbientFactor(queryRuns, anchors)
    val ambientJson = ambientFactor.map(f => f"$f%.3f").getOrElse("null")
    val suspects = BenchBudget.sameProfileSuspects(queryRuns, anchors)
    val adjudications = BenchBudget.adjudicate(
      suspects, queryRuns.toMap, anchors,
      name => {
        graft.dedup.Dedup.releaseScratch(spark)
        ListenerBusDrain(spark.sparkContext)
        val t0 = System.nanoTime()
        try { SparkEntry.queries(name)(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
      },
      freshJvmRerun(sfDir),
      canaryAnchorSec = anchors.get(canaryGate).map(_.anchorSec))
    val sameProfile = adjudications.filter(_.reproduced).map(_.name)
    val adjJson = adjudications.map { a =>
      val freshField = a.freshJvmSec.map(f => f"$f%.4f").getOrElse("null")
      val canaryField = a.freshCanarySec.map(f => f"$f%.4f").getOrElse("null")
      f"""{"name":"${jsonStr(a.name)}","median_sec":${a.medianSec}%.4f,"anchor_sec":${a.anchorSec}%.4f,"rerun_sec":${a.rerunSec}%.4f,"fresh_jvm_sec":$freshField,"fresh_canary_sec":$canaryField,"verdict":"${jsonStr(a.verdict)}","reproduced":${a.reproduced}}"""
    }.mkString("[", ",", "]")
    val overBudgetJson = overBudget.map(n => "\"" + jsonStr(n) + "\"")
      .mkString("[", ",", "]")
    val sameProfileJson = sameProfile.map(n => "\"" + jsonStr(n) + "\"")
      .mkString("[", ",", "]")
    // Forensics to a file; stdout stays within the driver's tail capture.
    // The stdout pointer must reflect REALITY: a failed write prints
    // "forensics":null rather than aiming the pointer at a missing or
    // stale file from a prior round.
    // Per-run default filename (r18 VERDICT item 3): a later run at a
    // different core count must not clobber the adjudication evidence
    // of the run before it — the driver's own 8-cpu scaling run used to
    // overwrite the 32-cpu forensics in the committed path. Explicit
    // SPARK_GRAFT_BENCH_OUT still wins (unchanged contract).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"docs/BENCH_FORENSICS_c$cpus.json")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"over_budget":$overBudgetJson,"over_time_same_profile":$sameProfileJson,"same_profile_adjudication":$adjJson,"suite_ambient_factor":$ambientJson,"budget_status":"${jsonStr(budgetStatus)}","query_metrics":$metrics,"runs_per_query":3,"warmup_sec":$warmup,"sf":"${jsonStr(sfDir)}"}"""
    // print the RESOLVED absolute path, not the raw input: with a
    // cwd-relative default, the raw string resolved against a
    // different directory aims the pointer at a stale file
    val wrote: Option[String] =
      try {
        val p = java.nio.file.Paths.get(outPath).toAbsolutePath
        if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p,
          full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        Some(p.toString)
      } catch { case _: Throwable => None }
    val forensicsField = wrote.map(p => "\"" + jsonStr(p) + "\"").getOrElse("null")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"over_budget":$overBudgetJson,"over_time_same_profile":$sameProfileJson,"suite_ambient_factor":$ambientJson,"budget_status":"${jsonStr(budgetStatus)}","runs_per_query":3,"warmup_sec":$warmup,"sf":"${jsonStr(sfDir)}","forensics":$forensicsField}"""
    // Capture insurance (r18 VERDICT item 2): the round-over-round
    // comparison went blind when a captured stdout tail front-truncated
    // the (single, ~9 KB) result line. Additions only — the canonical
    // plain line stays the LAST thing printed and byte-identical in
    // format; a sentinel-prefixed duplicate precedes it so any consumer
    // that greps rather than tails has a second copy, and the full
    // forensics file copy (`forensics` pointer above) remains the
    // authoritative fallback.
    println("GRAFT_BENCH_JSON " + line)
    println(line)
    System.out.flush()
    spark.stop()
  }
}
