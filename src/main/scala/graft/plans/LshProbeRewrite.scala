package graft.plans

import graft.expressions.CosineSimilarity
import graft.index.RandomHyperplaneLsh
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: rewrite exact top-k-by-cosine over a registered LSH
  * index table into the bucket-probe plan — the optimizer version of
  * the engine-level index choice (SURVEY §4, the `Rule[LogicalPlan]`
  * extension the reference's adaptive fallback O10 hints at).
  *
  * Matches `LIMIT k (SORT cosine_similarity(emb, <literal qvec>) DESC
  * (PROJECT ... (scan of a registered index table)))` and injects the
  * candidate Filter `bucket = h0(q) OR buckets[t] = ht(q) ...` under
  * the Project. The scan must carry the `bucket`/`buckets` columns
  * written by [[graft.index.LshIndexStore]]; the bucket predicate then
  * prunes partitions/row groups exactly like the hand-built probe.
  *
  * NOTE this is an opt-in APPROXIMATE rewrite: registering a path
  * declares "serve ANN from this index". Unregistered plans are
  * untouched. The rewrite is idempotent (skips when the probe filter is
  * already present).
  */
object LshProbeRewrite extends Rule[LogicalPlan] {

  /** A registered at-rest index path. The registration carries the
    * INDEX KIND plus its serving policy — the registration IS the
    * index choice; callers always write the same plain exact top-k
    * (r13 verdict #4: the engine's own ANN decision table recommends
    * IVF for clustered/real-shaped corpora, so the rule must be able
    * to serve more than LSH). */
  sealed trait IndexRegistration

  /** `maxHamming` is the registered SERVING POLICY of the path: 0 =
    * exact-bucket probe, 1 = 1-bit multi-probe (each table also probes
    * the numPlanes buckets one sign-flip away — the recall knob the
    * clustered sweep recommends, free of extra storage). Only 0 and 1
    * are supported: the 1-bit ball is numPlanes+1 buckets per table;
    * wider balls grow combinatorially and stop being a probe.
    *
    * `guaranteeK` (r16, the r15 verdict's #1): the registration-level
    * FILTERED policy. A static probe composed with a selective user
    * predicate can return fewer than k rows (at the gate SFs the
    * exact-bucket candidates ∩ a 2% filter is typically EMPTY —
    * hash-green but vacuous serving). With `guaranteeK = true` a
    * FILTERED top-k over this path rewrites to the in-plan escalation
    * ladder (exact bucket → 1-bit ball → brute over the filtered
    * subset, first level with ≥ k survivors wins — the
    * [[graft.index.LshIndexStore.searchFilteredAdaptive]] contract
    * with the escalation decision moved INTO the plan), so the ENGINE
    * owns recall-under-filter exactly the way the reference's
    * orchestrator owns the brute fallback (search_service.py:127-131)
    * — the caller never names the ladder. Unfiltered top-k still plans
    * the static probe (no starvation risk the ladder could fix that
    * the probe itself doesn't have; identical plan to
    * `guaranteeK = false`). Callers that project a literal column
    * named `index_used` get it OVERWRITTEN with the served level
    * (`lsh` / `lsh_mp1` / `brute` — the O10 reporting contract). */
  final case class Registration(lsh: RandomHyperplaneLsh, dim: Int,
                                numPhysicalPartitions: Int, maxHamming: Int = 0,
                                guaranteeK: Boolean = false)
    extends IndexRegistration

  /** IVF policy: the trained centroid array (id → vector, the same
    * driver-side floats [[graft.index.IvfKnn]] broadcasts) and the
    * probe width. The probe filter is `cluster_id IN (top-nprobe
    * centroids by cosine to the query)` — a pure partition-column
    * predicate over the [[graft.index.IvfIndexStore]] layout, so
    * Catalyst prunes to nprobe/nlist of the files. `guaranteeK` (r16)
    * is the same filtered policy as the LSH kind's: a FILTERED top-k
    * escalates in-plan through nprobe → 2·nprobe → filtered-corpus
    * until ≥ k survivors (see [[Registration.guaranteeK]]); unfiltered
    * top-k keeps the static centroid probe. */
  final case class IvfRegistration(cents: Array[(Long, Array[Float])], nprobe: Int,
                                   guaranteeK: Boolean = false)
    extends IndexRegistration

  /** PQ policy (r14 verdict #4): the trained codebooks plus the
    * shortlist width. Unlike the LSH/IVF kinds this is a SCORING
    * rewrite, not a probe filter — the plan is rebuilt as two staged
    * [[LshProbeTopK]] operators over one scan: an ADC stage that ranks
    * every row by [[graft.expressions.AdcScore]] (the per-query lookup
    * table is computed driver-side from `cb` and the literal query at
    * rewrite time) and keeps the top-`shortlist`, then the caller's
    * exact-cosine top-k over those `shortlist` survivors (the FAISS
    * `refine` composition, same semantics as
    * [[graft.index.PqKnn.searchRefined]]). `idColName` names the
    * unique row id the shortlist dedupes/tie-breaks on. */
  final case class PqRegistration(cb: graft.index.PqKnn.Codebooks,
                                  shortlist: Int, idColName: String)
    extends IndexRegistration

  /** IVF-PQ policy — the registry's first COMPOSED kind, proving the
    * two rewrite families stack: the coarse quantizer contributes its
    * `cluster_id IN (top-nprobe centroids)` PARTITION filter (the IVF
    * kind's probe, pruning the scan to nprobe/nlist directories) and
    * the codebooks contribute the staged ADC-shortlist → exact-rerank
    * SCORING rewrite over the surviving rows (the PQ kind's plan
    * shape) — one registration, one caller-side plain top-k, the FAISS
    * IVFPQ+refine composition end to end. With a shortlist wide
    * enough that PQ misranking cannot evict a true neighbor, the
    * result equals the EXACT IVF search over the same coarse
    * quantizer ([[graft.index.PqKnn.searchIvfPqRefined]]'s
    * equivalence argument), which is what lets the gate share
    * ann_ivf's replay oracle. */
  final case class IvfPqRegistration(cents: Array[(Long, Array[Float])],
                                     nprobe: Int,
                                     cb: graft.index.PqKnn.Codebooks,
                                     shortlist: Int, idColName: String,
                                     maxBatchFetch: Int = 10000,
                                     guaranteeK: Boolean = false)
    extends IndexRegistration

  /** SQ8 policy (round-15 open thread #1): the second SCORING kind.
    * Same staged shortlist→rerank rewrite as PQ — SQ8's per-dimension
    * scale table folds with the query into an [[graft.expressions.AdcScore]]
    * lookup table ([[graft.index.SqKnn.adcTable]]: 256 signed-byte
    * products per dimension), so the machinery the PQ kind established
    * is reused whole; only the LUT builder differs. The inner stage
    * ranks by the quantized dot (one byte-indexed add per dimension —
    * near-exact, ≤ 1/254 per-component error), the outer exact-reranks
    * the `shortlist` survivors. */
  final case class Sq8Registration(scales: Array[Double],
                                   shortlist: Int, idColName: String)
    extends IndexRegistration

  /** SPLIT-PQ policy (r16, the last open thread): the first kind whose
    * rewrite spans TWO at-rest tables. The registered path is the
    * layout's FLOAT table (`<root>/floats`, the one callers scan for an
    * exact top-k); the rewrite replaces the full float scan with the
    * staged [[ShortlistFetch]] composition — ADC shortlist over the
    * sibling codes table (held here as an analyzed plan, listed once at
    * registration), runtime `id IN (shortlist)` pushed into the float
    * scan, exact rerank on the survivors. Same equivalence argument as
    * the fused PQ kind (wide-enough shortlist ⇒ brute-identical), but
    * the corpus pass reads ~9 B/row codes instead of the floats —
    * [[graft.index.PqIndexStore.writeSplit]]'s id-clustered layout is
    * what makes the fetch shortlist-proportional.
    *
    * A caller filter on the id column always refuses: that is a
    * hand-built fetch (stacking would narrow it — the r15
    * LshProbeRewrite lesson). Metadata filters depend on the policy:
    * with `guaranteeK = false` they refuse too (the codes table
    * carries no metadata, so the static staged serve would rank the
    * CORPUS and let the filter starve the shortlist — filtered plans
    * keep their exact scan, correct and never silently approximate).
    * With `guaranteeK = true` (r17, open thread (a) — the scoring
    * kinds' filtered policy) a metadata-filtered top-k rewrites to
    * [[graft.index.PqIndexStore.searchRefinedSplitFiltered]]'s staged
    * shape instead: the predicate evaluates on a NARROW (id +
    * predicate columns) projection of the floats table, the surviving
    * ids semi-join into the codes ADC scan, and the shortlist ranks
    * the FILTERED pool — filter-first, so recall-under-filter holds by
    * construction (no ladder needed: a scoring kind has no probe
    * geometry to starve; a pool smaller than k serves the whole pool,
    * the brute contract). Predicate columns must live on the floats
    * side ([[graft.index.PqKnn]]'s `writeSplit(payload = ...)`);
    * a predicate referencing a column the floats relation lacks
    * (derived columns) refuses loudly-by-plan — the declared exact
    * scan runs. */
  final case class PqSplitRegistration(cb: graft.index.PqKnn.Codebooks,
                                       shortlist: Int, idColName: String,
                                       codes: LogicalPlan,
                                       maxBatchFetch: Int = 10000,
                                       guaranteeK: Boolean = false)
    extends IndexRegistration

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, IndexRegistration]()

  private def normalize(p: String): String =
    java.net.URI.create(p.replace(" ", "%20")).getPath.stripSuffix("/")

  def register(path: String, lsh: RandomHyperplaneLsh, dim: Int,
               numPhysicalPartitions: Int = 256, maxHamming: Int = 0,
               guaranteeK: Boolean = false): Unit = {
    require(maxHamming >= 0 && maxHamming <= 1,
      s"maxHamming $maxHamming unsupported — 0 (exact bucket) or 1 (1-bit multi-probe)")
    registry.put(normalize(new java.io.File(path).getAbsolutePath),
      Registration(lsh, dim, numPhysicalPartitions, maxHamming, guaranteeK))
    persistQuietly(path)
  }

  def registerIvf(path: String, cents: Array[(Long, Array[Float])],
                  nprobe: Int, guaranteeK: Boolean = false): Unit = {
    require(cents.nonEmpty, "IVF registration needs at least one centroid")
    require(nprobe >= 1, s"nprobe $nprobe must be >= 1")
    registry.put(normalize(new java.io.File(path).getAbsolutePath),
      IvfRegistration(cents, nprobe, guaranteeK))
    persistQuietly(path)
  }

  def registerPq(path: String, cb: graft.index.PqKnn.Codebooks,
                 shortlist: Int = 100, idColName: String = "vec_id"): Unit = {
    require(cb.m >= 1 && cb.cents.nonEmpty, "PQ registration needs trained codebooks")
    require(shortlist >= 1, s"shortlist $shortlist must be >= 1")
    registry.put(normalize(new java.io.File(path).getAbsolutePath),
      PqRegistration(cb, shortlist, idColName))
    persistQuietly(path)
  }

  def registerIvfPq(path: String, cents: Array[(Long, Array[Float])], nprobe: Int,
                    cb: graft.index.PqKnn.Codebooks, shortlist: Int = 100,
                    idColName: String = "vec_id",
                    maxBatchFetch: Int = 10000,
                    guaranteeK: Boolean = false): Unit = {
    require(cents.nonEmpty && nprobe >= 1, "IVF-PQ registration needs centroids and nprobe >= 1")
    require(cb.m >= 1 && cb.cents.nonEmpty, "IVF-PQ registration needs trained codebooks")
    require(shortlist >= 1, s"shortlist $shortlist must be >= 1")
    registry.put(normalize(new java.io.File(path).getAbsolutePath),
      IvfPqRegistration(cents, nprobe, cb, shortlist, idColName, maxBatchFetch,
        guaranteeK))
    persistQuietly(path)
  }

  /** Register a [[graft.index.PqIndexStore.writeSplit]] layout for
    * split-staged serving. `rootPath` is the layout root (with
    * `codebook`/`codes`/`floats` beneath it); the key is the FLOATS
    * directory — the table a caller's exact top-k actually scans. The
    * codes plan is analyzed once here (one listing per registration,
    * not per query; the per-rewrite copy re-instances exprIds).
    *
    * Exactness condition under `guaranteeK` (r17 ADVICE, low): the
    * FILTERED rewrite ranks the filter-surviving pool by ADC and keeps
    * `shortlist` ids before the exact rerank — guaranteed-k always
    * (filter-first serves the whole pool when it is below k), EXACT
    * only while the filtered pool size stays ≤ `shortlist`. Beyond
    * that the serve is the standard PQ recall trade: ADC misranking
    * near the boundary can drop a true top-k row, and the dial is the
    * same `shortlist` every PQ serve documents. Size `shortlist` to
    * the largest filtered pool that must stay exact. */
  def registerPqSplit(spark: org.apache.spark.sql.SparkSession, rootPath: String,
                      cb: graft.index.PqKnn.Codebooks,
                      shortlist: Int = 100, idColName: String = "vec_id",
                      maxBatchFetch: Int = 10000,
                      guaranteeK: Boolean = false): Unit = {
    require(cb.m >= 1 && cb.cents.nonEmpty, "split-PQ registration needs trained codebooks")
    require(shortlist >= 1, s"shortlist $shortlist must be >= 1")
    val codes = spark.read.parquet(s"$rootPath/codes").queryExecution.analyzed
    val floatsDir = s"$rootPath/floats"
    registry.put(normalize(new java.io.File(floatsDir).getAbsolutePath),
      PqSplitRegistration(cb, shortlist, idColName, codes, maxBatchFetch, guaranteeK))
    persistQuietly(floatsDir)
  }

  def registerSq8(path: String, scales: Array[Double],
                  shortlist: Int = 100, idColName: String = "vec_id"): Unit = {
    require(scales.nonEmpty, "SQ8 registration needs trained scales")
    require(shortlist >= 1, s"shortlist $shortlist must be >= 1")
    registry.put(normalize(new java.io.File(path).getAbsolutePath),
      Sq8Registration(scales, shortlist, idColName))
    persistQuietly(path)
  }

  /** Whether `path` currently serves through the rule — the guard
    * [[graft.index.IndexGenerations.retire]] checks before deleting a
    * generation (a registered path is, by definition, one the
    * optimizer keeps rewriting queries onto). */
  def isRegistered(path: String): Boolean =
    registry.containsKey(normalize(new java.io.File(path).getAbsolutePath))

  private[graft] def registrationOf(path: String): Option[IndexRegistration] =
    Option(registry.get(normalize(new java.io.File(path).getAbsolutePath)))

  // ---- registration persistence (r16 stretch; r15 verdict #7) -------
  // The registry is in-memory: a fresh JVM had to re-register every
  // layout from code, which means the registration — the serving
  // policy — lived OUTSIDE the layout it describes. The `_registration`
  // sidecar (the `_ivf_baseline` precedent: `_`-prefixed, ignored by
  // FileIndex listings, scans untouched) puts it IN the layout:
  // register* calls persist it best-effort, and a fresh session
  // restores serving with spark.read.parquet(path) + one
  // registerFromSidecar(path). Everything a registration carries is
  // derived constants (seeds, dims, centroids, codebooks, scales) —
  // small, exact, JSON-serializable.

  private def mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def sidecarPath(path: String): java.nio.file.Path =
    java.nio.file.Paths.get(new java.io.File(path).getAbsolutePath, "_registration")

  /** Write `path`'s live registration into its `_registration` sidecar.
    * Fails loud when nothing is registered; register* methods call the
    * quiet best-effort variant (a registration ahead of the layout
    * write has no directory to persist into yet). */
  def persistRegistration(path: String): Unit = {
    val reg = registrationOf(path).getOrElse(
      sys.error(s"$path has no live registration to persist"))
    val node = mapper.createObjectNode()
    def putFloats(parent: com.fasterxml.jackson.databind.node.ObjectNode,
                  name: String, vs: Array[Float]): Unit = {
      val a = parent.putArray(name); vs.foreach(a.add(_))
    }
    def putCents(name: String, cents: Array[(Long, Array[Float])]): Unit = {
      val arr = node.putArray(name)
      cents.foreach { case (cid, v) =>
        val e = arr.addObject(); e.put("cid", cid); putFloats(e, "v", v)
      }
    }
    def putCodebooks(cb: graft.index.PqKnn.Codebooks): Unit = {
      node.put("cb_dim", cb.dim); node.put("cb_m", cb.m); node.put("cb_k", cb.k)
      val subs = node.putArray("cb")
      cb.cents.foreach { sub =>
        val sa = subs.addArray()
        sub.foreach { c => val ca = sa.addArray(); c.foreach(ca.add(_)) }
      }
    }
    reg match {
      case Registration(lsh, dim, npp, mh, gk) =>
        node.put("kind", "lsh")
        node.put("numTables", lsh.numTables); node.put("numPlanes", lsh.numPlanes)
        node.put("seed", lsh.seed); node.put("dim", dim)
        node.put("numPhysicalPartitions", npp)
        node.put("maxHamming", mh); node.put("guaranteeK", gk)
      case IvfRegistration(cents, nprobe, guaranteeK) =>
        node.put("kind", "ivf"); node.put("nprobe", nprobe)
        node.put("guaranteeK", guaranteeK); putCents("cents", cents)
      case PqRegistration(cb, shortlist, idColName) =>
        node.put("kind", "pq"); node.put("shortlist", shortlist)
        node.put("idColName", idColName); putCodebooks(cb)
      case Sq8Registration(scales, shortlist, idColName) =>
        node.put("kind", "sq8"); node.put("shortlist", shortlist)
        node.put("idColName", idColName)
        val a = node.putArray("scales"); scales.foreach(a.add(_))
      case IvfPqRegistration(cents, nprobe, cb, shortlist, idColName, maxBatchFetch, gk) =>
        node.put("kind", "ivfpq"); node.put("nprobe", nprobe)
        node.put("shortlist", shortlist); node.put("idColName", idColName)
        node.put("maxBatchFetch", maxBatchFetch); node.put("guaranteeK", gk)
        putCents("cents", cents); putCodebooks(cb)
      case PqSplitRegistration(cb, shortlist, idColName, _, maxBatchFetch, gk) =>
        // the codes plan is NOT persisted — it is derived state, rebuilt
        // from the sibling `codes` directory on restore
        node.put("kind", "pq_split"); node.put("shortlist", shortlist)
        node.put("idColName", idColName)
        node.put("maxBatchFetch", maxBatchFetch); node.put("guaranteeK", gk)
        putCodebooks(cb)
    }
    java.nio.file.Files.write(sidecarPath(path),
      mapper.writeValueAsBytes(node))
  }

  private def persistQuietly(path: String): Unit =
    try persistRegistration(path)
    catch { case scala.util.control.NonFatal(_) => () }

  /** Restore a layout's serving policy from its `_registration` sidecar
    * (written by the register* call that built it, possibly in another
    * JVM). Returns the registration kind. Loud on a missing/garbled
    * sidecar — a quiet no-op would serve exact scans and look like a
    * performance bug. */
  def registerFromSidecar(path: String): String = {
    val bytes = java.nio.file.Files.readAllBytes(sidecarPath(path))
    val node = mapper.readTree(bytes)
    def floats(n: com.fasterxml.jackson.databind.JsonNode): Array[Float] = {
      val it = n.elements(); val b = Array.newBuilder[Float]
      while (it.hasNext) b += it.next().floatValue()
      b.result()
    }
    def cents(name: String): Array[(Long, Array[Float])] = {
      val it = node.get(name).elements()
      val b = Array.newBuilder[(Long, Array[Float])]
      while (it.hasNext) {
        val e = it.next(); b += ((e.get("cid").asLong(), floats(e.get("v"))))
      }
      b.result()
    }
    def codebooks(): graft.index.PqKnn.Codebooks = {
      val subsIt = node.get("cb").elements()
      val subs = Array.newBuilder[Array[Array[Float]]]
      while (subsIt.hasNext) {
        val centIt = subsIt.next().elements()
        val cs = Array.newBuilder[Array[Float]]
        while (centIt.hasNext) cs += floats(centIt.next())
        subs += cs.result()
      }
      graft.index.PqKnn.Codebooks(node.get("cb_dim").asInt(),
        node.get("cb_m").asInt(), node.get("cb_k").asInt(), subs.result())
    }
    val kind = node.get("kind").asText()
    kind match {
      case "lsh" =>
        register(path,
          RandomHyperplaneLsh(node.get("numTables").asInt(),
            node.get("numPlanes").asInt(), node.get("seed").asLong()),
          node.get("dim").asInt(), node.get("numPhysicalPartitions").asInt(),
          node.get("maxHamming").asInt(), node.get("guaranteeK").asBoolean())
      case "ivf" =>
        // guaranteeK defaults false for sidecars written before the flag
        registerIvf(path, cents("cents"), node.get("nprobe").asInt(),
          Option(node.get("guaranteeK")).exists(_.asBoolean()))
      case "pq" =>
        registerPq(path, codebooks(), node.get("shortlist").asInt(),
          node.get("idColName").asText())
      case "sq8" =>
        val it = node.get("scales").elements()
        val b = Array.newBuilder[Double]
        while (it.hasNext) b += it.next().doubleValue()
        registerSq8(path, b.result(), node.get("shortlist").asInt(),
          node.get("idColName").asText())
      case "ivfpq" =>
        registerIvfPq(path, cents("cents"), node.get("nprobe").asInt(),
          codebooks(), node.get("shortlist").asInt(),
          node.get("idColName").asText(),
          Option(node.get("maxBatchFetch")).map(_.asInt()).getOrElse(10000),
          Option(node.get("guaranteeK")).exists(_.asBoolean()))
      case "pq_split" =>
        // the sidecar lives in the registered floats dir; the layout
        // root (where the codes plan is rebuilt from) is its parent
        registerPqSplit(org.apache.spark.sql.SparkSession.active,
          new java.io.File(path).getAbsoluteFile.getParent,
          codebooks(), node.get("shortlist").asInt(),
          node.get("idColName").asText(),
          Option(node.get("maxBatchFetch")).map(_.asInt()).getOrElse(10000),
          Option(node.get("guaranteeK")).exists(_.asBoolean()))
      case other => sys.error(s"unknown registration kind '$other' in sidecar at $path")
    }
    kind
  }

  /** Remove one path's registration (the swap order is register(new) →
    * unregister(old) → retire(old)); queries over the path fall back
    * to the exact scan, which is correct and loud in any gate that
    * `require`s the rewrite. */
  def unregister(path: String): Unit =
    registry.remove(normalize(new java.io.File(path).getAbsolutePath)): Unit

  def clear(): Unit = registry.clear()

  // ---- serving through a registration --------------------------------
  // The one way a caller reaches a registered layout: inject the rule
  // into the session, declare the plain top-k (per request or batched)
  // with the helpers below, and check the optimized plan for the
  // registration's markers. The rule matches exactly these shapes.

  /** Adds this rule and [[LshProbeStrategy]] to `spark` once (the
    * Verify/Bench sessions are built without [[graft.GraftExtensions]]).
    * The check and the append run under the session's `experimental`
    * lock, so concurrent serves adopting a layout append them once. */
  def inject(spark: SparkSession): Unit = spark.experimental.synchronized {
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ this
    injectStrategy(spark)
  }

  /** Adds only [[LshProbeStrategy]], for library serves that build the
    * custom nodes themselves and never need the rewrite. */
  def injectStrategy(spark: SparkSession): Unit = spark.experimental.synchronized {
    if (!spark.experimental.extraStrategies.exists(_.isInstanceOf[LshProbeStrategy]))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ LshProbeStrategy(spark)
  }

  /** The declared per-request top-k over a layout: cosine `score`
    * against the literal `q`, ordered by (`score` desc, `idCol` asc),
    * limited to k. With `placeholder` it also carries `index_used =
    * "auto"`, which a guaranteed-k registration overwrites with the
    * served level. */
  def topK(layout: DataFrame, q: Array[Float], k: Int, idCol: String = "vec_id",
           placeholder: Boolean = false): DataFrame = {
    val scored = layout.withColumn("score",
      CosineSimilarity(F.col("embedding"), F.typedlit(q.toSeq)))
    (if (placeholder) scored.withColumn("index_used", F.lit("auto")) else scored)
      .orderBy(F.col("score").desc, F.col(idCol).asc)
      .limit(k)
  }

  /** The declared batched top-k: `requests` (`q_id`, `q_emb`) × layout,
    * self excluded, cosine `cos`, `rn` = row_number per `q_id` by (`cos`
    * desc, `idCol` asc), `rn <= k`. The batched rewrite replaces this
    * quadratic declaration with the registration's one-plan serve. */
  def batchedTopK(requests: DataFrame, layout: DataFrame, k: Int,
                  idCol: String = "vec_id"): DataFrame =
    requests
      .crossJoin(layout)
      .where(F.col(idCol) =!= F.col("q_id"))
      .withColumn("cos", CosineSimilarity(F.col("embedding"), F.col("q_emb")))
      .withColumn("rn", F.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(F.col("q_id"))
          .orderBy(F.col("cos").desc, F.col(idCol).asc)))
      .where(F.col("rn") <= k)

  /** `served` itself when its optimized plan contains every marker and,
    * with a `placeholder`, no longer projects the `auto` placeholder;
    * otherwise fails naming `what`. A declaration the rule did not
    * rewrite still answers (the exact scan), so without this check a
    * missing registration would pass as correct rows through the wrong
    * component. */
  def requireServed(served: DataFrame, markers: Seq[String],
                    placeholder: Boolean = false)(what: => String): DataFrame = {
    val plan = served.queryExecution.optimizedPlan.toString
    val missing = markers.filterNot(plan.contains)
    require(missing.isEmpty,
      s"$what: the optimized plan lacks ${missing.mkString(", ")}\n${plan.take(1500)}")
    require(!placeholder || !plan.contains("auto AS index_used"),
      s"$what: the index_used placeholder survived — the engine must own the " +
        "served-level value")
    served
  }

  private def registrationFor(plan: LogicalPlan): Option[IndexRegistration] =
    plan.collectFirst {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] &&
        lr.relation.asInstanceOf[HadoopFsRelation].location.rootPaths.exists { rp =>
          registry.containsKey(normalize(rp.toUri.toString))
        } =>
        val fs = lr.relation.asInstanceOf[HadoopFsRelation]
        val key = fs.location.rootPaths
          .map(rp => normalize(rp.toUri.toString))
          .find(registry.containsKey)
          .get
        registry.get(key)
    }

  private val layoutNames = Set("table", "bucket", "bucket_part", "cluster_id")

  /** A plan that already constrains any LAYOUT column (`table`,
    * `bucket`, `bucket_part`, `cluster_id` — by equality or IN-list) is
    * a hand-built probe: stacking the registered policy's filter on top
    * would NARROW the caller's candidate set (r15 catch: the adaptive
    * filtered ladder's brute rung scans `table = 0` of the registered
    * layout — the rewrite silently turned its exact filtered scan into
    * a bucket probe, serving 1 vacuous row instead of the filtered
    * subset; the gate's oracle flagged it). The rewrite serves only
    * layout-OBLIVIOUS plans — that is its whole contract. */
  private def alreadyProbed(plan: LogicalPlan): Boolean = plan.exists {
    case Filter(cond, _) =>
      cond.exists {
        case EqualTo(a: Attribute, _) => layoutNames.contains(a.name)
        case In(a: Attribute, _)      => layoutNames.contains(a.name)
        case _ => false
      }
    case _ => false
  }

  private def queryBuckets(reg: Registration, q: Array[Float]): Array[Int] = {
    val n = math.sqrt(q.map(x => x.toDouble * x.toDouble).sum)
    val qn = if (n == 0.0) q else q.map(x => (x / n).toFloat)
    reg.lsh.planes(reg.dim).map(tp => reg.lsh.hash(qn.toSeq, tp))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case limit @ GlobalLimit(IntegerLiteral(kVal), LocalLimit(_,
        sort @ Sort(SortOrder(scoreAttr: Attribute, Descending, _, _) +: _, true,
          Project(projectList, child), _)))
        if !alreadyProbed(child) =>
      buildProbe(kVal, sort, scoreAttr, projectList, None, child).getOrElse(limit)
    // The envelope shape: the optimizer pushes a row-wise projection
    // (e.g. `round(score, 4)`, literal envelope columns) BELOW the
    // limits, leaving Project between LocalLimit and Sort. Row-wise
    // deterministic projections commute with limit, so the probe node
    // replaces the limit subtree and the projection rides on top.
    // Without this arm, any top-k whose caller rounds or renames the
    // score silently falls back to the exact scan.
    case limit @ GlobalLimit(IntegerLiteral(kVal), LocalLimit(_,
        Project(outerList,
          sort @ Sort(SortOrder(scoreAttr: Attribute, Descending, _, _) +: _, true,
            Project(projectList, child), _))))
        if !alreadyProbed(child) && outerList.forall(_.deterministic) =>
      buildProbe(kVal, sort, scoreAttr, projectList, Some(outerList), child)
        .getOrElse(limit)
    // The BATCHED declarative shape (r16, README open thread #4 in its
    // full form): requests CROSS JOIN layout, self excluded, scored by
    // cosine, ranked per request, rank <= k. Semantically quadratic as
    // declared — the registration rewrites it into the broadcast
    // bucket-probe batched serve, one plan per request SET.
    case p @ Project(projList, Filter(cond,
        Window(Seq(rnAlias @ Alias(WindowExpression(RowNumber(), _), _)),
          Seq(qidAttr: Attribute), orderSpec, wchild, _))) =>
      batchedServe(p, projList, cond, rnAlias, qidAttr, orderSpec, wchild)
        .getOrElse(p)
  }

  private def buildProbe(kVal: Int, sort: Sort, scoreAttr: Attribute,
                         projectList: Seq[NamedExpression],
                         outerList: Option[Seq[NamedExpression]],
                         child: LogicalPlan): Option[LogicalPlan] = {
      // non-ladder kinds: the outer envelope projection (when present)
      // rides unchanged on top of the probe node
      def wrap(node: LogicalPlan): LogicalPlan =
        outerList.map(Project(_, node)).getOrElse(node)
      val rewrite = for {
        cs <- projectList.collectFirst {
          case a: Alias if a.exprId == scoreAttr.exprId && a.child.isInstanceOf[CosineSimilarity] =>
            a.child.asInstanceOf[CosineSimilarity]
        }
        qvec <- cs.right match {
          case Literal(data: ArrayData, _) => Some(data.toFloatArray())
          case _ => None
        }
        reg <- registrationFor(child)
        // the physical operator re-derives ordering from its projected
        // rows, so every sort expression must flow through the
        // projection; dedupe keys are child attrs and the operator
        // carries any the projection pruned (see LshProbeTopKExec)
        outIds = projectList.map(_.toAttribute.exprId).toSet
        if sort.order.forall(_.child match {
          case a: Attribute => outIds.contains(a.exprId)
          case _ => false
        })
        node <- reg match {
          case r: Registration if r.guaranteeK && hasUserFilter(child) =>
            // the registered FILTERED policy: the ladder owns its own
            // outer-projection handling (the index_used slot may live
            // in either list), so it returns the COMPLETE subtree; a
            // ladder that cannot bind falls back to the static probe —
            // under-filled but correct, never a silent exact scan
            guaranteedKLadder(kVal, sort, projectList, outerList, child, r, qvec)
              .orElse(filterProbe(kVal, sort, projectList, child,
                lshProbeFilter(r, qvec, child)).map(wrap))
          case r: Registration =>
            filterProbe(kVal, sort, projectList, child,
              lshProbeFilter(r, qvec, child)).map(wrap)
          case r: IvfRegistration if r.guaranteeK && hasUserFilter(child) =>
            guaranteedKLadderIvf(kVal, sort, projectList, outerList, child, r, qvec)
              .orElse(filterProbe(kVal, sort, projectList, child,
                ivfProbeFilter(r, qvec, child)).map(wrap))
          case r: IvfRegistration =>
            filterProbe(kVal, sort, projectList, child,
              ivfProbeFilter(r, qvec, child)).map(wrap)
          case r: PqRegistration =>
            stagedScoringProbe(kVal, sort, projectList, child,
              graft.index.PqKnn.adcTable(qvec, r.cb), "adc_score",
              r.shortlist, r.idColName).map(wrap)
          case r: Sq8Registration =>
            stagedScoringProbe(kVal, sort, projectList, child,
              graft.index.SqKnn.adcTable(qvec, r.scales), "sq8_score",
              r.shortlist, r.idColName).map(wrap)
          case r: PqSplitRegistration =>
            // unfiltered: the static staged serve. Filtered: an
            // id-column filter is always a hand-built fetch (stacking
            // narrows it — refuse); a metadata filter serves through
            // the filter-first semi-join shape iff the registration
            // opted into the filtered policy (guaranteeK), else the
            // corpus-ranked shortlist would starve — keep the exact
            // scan, correct and never silently approximate
            if (!hasNonNullGuardFilter(child))
              splitStagedFetch(kVal, sort, projectList, child, r, qvec).map(wrap)
            else if (r.guaranteeK)
              splitStagedFetchFiltered(kVal, sort, projectList, child, r, qvec).map(wrap)
            else None
          case r: IvfPqRegistration if r.guaranteeK && hasUserFilter(child) =>
            // the composed kind's FILTERED policy (r17): recall-under-
            // filter belongs to the coarse quantizer's geometry — the
            // IVF ladder (nprobe -> 2*nprobe -> filtered corpus), exact
            // scoring. Codes accelerate corpus-wide UNFILTERED scans;
            // a filtered pool is already candidate-sized and the
            // rerank is exact either way, so the ladder's output is
            // identical to the IVF kind's (one shared oracle proves
            // both)
            guaranteedKLadderIvf(kVal, sort, projectList, outerList, child,
              IvfRegistration(r.cents, r.nprobe, guaranteeK = true), qvec)
              .orElse(filterProbe(kVal, sort, projectList, child,
                ivfProbeFilter(IvfRegistration(r.cents, r.nprobe), qvec, child)).map(wrap))
          case r: IvfPqRegistration =>
            // the composed kind: coarse partition probe UNDER the
            // staged scoring rewrite — the Filter sits between the
            // scan and the inner projection, so PhysicalOperation
            // still collapses (Project, Filter, scan) into one pruned
            // parquet read
            (for {
              probe <- ivfProbeFilter(IvfRegistration(r.cents, r.nprobe), qvec, child)
              node <- stagedScoringProbe(kVal, sort, projectList,
                Filter(probe, child),
                graft.index.PqKnn.adcTable(qvec, r.cb), "adc_score",
                r.shortlist, r.idColName)
            } yield node).map(wrap)
        }
      } yield node
      rewrite
  }

  /** The filter-kind rewrite (LSH buckets / IVF centroid probe):
    * collapse dedupe + score + sort + limit into the custom
    * whole-operator node ([[LshProbeTopK]]); [[LshProbeStrategy]] plans
    * it into the bounded-heap physical operator. Under the LSH layout a
    * row sits in every table's sub-layout, so the operator dedupes the
    * payload columns — as per-partition hash-skip + merge, not the
    * full-shuffle Aggregate the logical form would need (IVF rows are
    * unique; the dedupe is a no-op hash probe there). */
  private def filterProbe(kVal: Int, sort: Sort,
                          projectList: Seq[NamedExpression],
                          child: LogicalPlan,
                          probeFilter: Option[Expression]): Option[LogicalPlan] = {
    val dedupeKeys = child.output.filterNot(a => layoutNames.contains(a.name))
    if (dedupeKeys.isEmpty) None
    else probeFilter.map(f =>
      LshProbeTopK(kVal, sort.order, projectList, dedupeKeys, Filter(f, child)))
  }

  /** A plan that carries any Filter is a FILTERED query (layout-column
    * filters never reach here — [[alreadyProbed]] excludes those plans
    * wholesale), which is the only shape the guaranteed-k ladder
    * serves: an unfiltered top-k's candidate set is the static probe's
    * and starvation-by-predicate cannot occur, so it keeps the static
    * plan bit-identical to a `guaranteeK = false` registration. */
  private def hasUserFilter(plan: LogicalPlan): Boolean =
    plan.exists { case _: Filter => true; case _ => false }

  private val ladderNames = Set("gk_dist", "gk_min_dist", "gk_n0", "gk_n1",
    "gk_level", "index_used")

  /** The registered-policy GUARANTEED-K rewrite (r16; the r15
    * verdict's #1): a filtered top-k over a `guaranteeK` registration
    * becomes the IN-PLAN escalation ladder —
    *
    *   1. one pruned scan of the 1-bit Hamming ball ∩ user filter,
    *      each surviving candidate tagged with its MIN probe distance
    *      (0 = exact bucket in some table, 1 = one sign-flip away);
    *   2. one single-row aggregate derives both survivor counts
    *      (`n0` = exact-bucket, `n1` = ball — monotone by
    *      construction) and picks the first level with ≥ k survivors;
    *   3. candidates within the chosen level (broadcast of the 1-row
    *      level) are served; a STARVED query (n1 < k) falls through to
    *      the brute rung — the filtered `table = 0` sub-layout (every
    *      corpus row exactly once), per the O10 fallback contract;
    *   4. the caller's own projection + (cosine DESC, id) sort + limit
    *      run on the chosen pool — the pool is ≤ max(ball candidates,
    *      filtered subset) rows, so the stock sort+limit plans as
    *      TakeOrderedAndProject.
    *
    * Decision semantics are [[graft.index.LshIndexStore.searchFilteredAdaptive]]'s
    * (same counts, same boundaries, same monotone widening; the ladder
    * only ever ADDS candidates, and the rerank is exact either way) —
    * but where the library call spends up to two driver-side COUNT
    * jobs per query, here the escalation is a 1-row broadcast join
    * inside ONE plan, so the rewrite composes with batched/streamed
    * callers the way every other registered policy does.
    *
    * Construction note: the subtree is COMPOSED with the DataFrame API
    * over the caller's own (already-optimized) child plan
    * ([[SqlShims.ofRows]]) and re-optimized re-entrantly — a 4-way
    * join/aggregate/union assembled by hand from catalyst nodes would
    * be strictly worse engineering. The caller's projections are then
    * re-bound onto the pool BY NAME with their original exprIds, so
    * the parent plan above the limit resolves unchanged. A caller
    * projecting a literal `index_used` placeholder gets the SERVED
    * level in that slot (the engine owns the envelope value — O12's
    * contract); everything else passes through. Returns None (static
    * fallback) when the pool cannot bind every caller reference. */
  private def guaranteedKLadder(kVal: Int, sort: Sort,
                                projectList: Seq[NamedExpression],
                                outerList: Option[Seq[NamedExpression]],
                                child: LogicalPlan, reg: Registration,
                                qvec: Array[Float]): Option[LogicalPlan] = try {
    import org.apache.spark.sql.{functions => F}
    val spark = org.apache.spark.sql.SparkSession.active
    val fl = org.apache.spark.sql.graft.SqlShims.ofRows(spark, child)
    val payloadNames = fl.columns.toSeq.filterNot(layoutNames.contains)
    // a layout whose payload collides with the ladder's working names
    // cannot be served by it (the collision would silently shadow)
    if (payloadNames.isEmpty || payloadNames.exists(ladderNames.contains))
      return None
    val qb = queryBuckets(reg, qvec)
    val qbCol = F.element_at(F.typedlit(qb.toSeq), F.col("table") + 1)
    def ballParts(b: Int): Seq[Int] =
      (b +: (0 until reg.lsh.numPlanes).map(p => b ^ (1 << p)))
        .map(math.floorMod(_, reg.numPhysicalPartitions)).distinct
    // partition-column disjunction (prunable) AND the ball membership
    // on the exact bucket — the candidatesAt(1) probe of the library
    // ladder, one conjunct per table
    val pruneOr = qb.zipWithIndex.map { case (b, t) =>
      F.col("table") === t &&
        F.col("bucket_part").isin(ballParts(b).map(Int.box): _*)
    }.reduce(_ || _)
    val member = pruneOr &&
      F.bit_count(F.col("bucket").bitwiseXOR(qbCol)) <= 1
    val payload = payloadNames.map(F.col)
    // dedupe across sub-layouts = groupBy the payload — but Spark
    // cannot GROUP BY un-orderable types (maps, e.g. a chunk layout's
    // metadata column), so those columns ride the aggregate as
    // `first()` instead: a row's sub-layout copies are byte-identical,
    // so first() over a group of copies is exact, not a choice
    def orderableType(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => false
      case org.apache.spark.sql.types.ArrayType(et, _) => orderableType(et)
      case st: org.apache.spark.sql.types.StructType =>
        st.fields.forall(f => orderableType(f.dataType))
      case _ => true
    }
    val (groupNames, carryNames) =
      payloadNames.partition(n => orderableType(fl.schema(n).dataType))
    if (groupNames.isEmpty) return None
    val cand = fl.where(member)
      .withColumn("gk_dist",
        F.when(F.col("bucket") === qbCol, F.lit(0)).otherwise(F.lit(1)))
      .groupBy(groupNames.map(F.col): _*)
      .agg(F.min(F.col("gk_dist")).as("gk_min_dist"),
        carryNames.map(n => F.first(F.col(n)).as(n)): _*)
    ladderServe(kVal, sort, projectList, outerList, payload, cand,
      fl.where(F.col("table") === 0), ("lsh", "lsh_mp1", "brute"))
  } catch {
    case scala.util.control.NonFatal(e) =>
      // fall back to the static probe — under-filled but correct; the
      // warning keeps the fallback diagnosable (a silent None here hid
      // a real construction bug once)
      logError(s"guaranteed-k ladder fell back to the static probe", e)
      None
  }

  /** The IVF kind's guaranteed-k ladder (r16): same escalation
    * contract as the LSH ladder, the widening expressed in the index's
    * own geometry — level 0 probes the registered `nprobe` best
    * clusters, level 1 DOUBLES the probe list (the standard IVF recall
    * knob, the analog of the LSH 1-bit ball), level 2 is the filtered
    * corpus (IVF stores each row exactly once, so the brute rung is
    * the whole filtered layout — no sub-layout trick needed, and no
    * dedupe anywhere: `gk_min_dist` is a pure function of the row's
    * `cluster_id` rank). Served levels report `ivf` / `ivf_w2` /
    * `brute`. */
  private def guaranteedKLadderIvf(kVal: Int, sort: Sort,
                                   projectList: Seq[NamedExpression],
                                   outerList: Option[Seq[NamedExpression]],
                                   child: LogicalPlan, reg: IvfRegistration,
                                   qvec: Array[Float]): Option[LogicalPlan] = try {
    import org.apache.spark.sql.{functions => F}
    val spark = org.apache.spark.sql.SparkSession.active
    val fl = org.apache.spark.sql.graft.SqlShims.ofRows(spark, child)
    val payloadNames = fl.columns.toSeq.filterNot(layoutNames.contains)
    if (payloadNames.isEmpty || payloadNames.exists(ladderNames.contains))
      return None
    val ranked = graft.index.IvfKnn.rankClusters(qvec, reg.cents).map(_._1)
    val narrow = ranked.take(reg.nprobe)
    val wide = ranked.take(2 * reg.nprobe)
    // literal type follows the partition column (read back as int when
    // every cluster id fits — matching literals keep the pruning
    // predicate cast-free, same rule as ivfProbeFilter)
    def inClusters(ids: Seq[Long]): org.apache.spark.sql.Column =
      if (ids.forall(v => v >= Int.MinValue && v <= Int.MaxValue) &&
          fl.schema("cluster_id").dataType == IntegerType)
        F.col("cluster_id").isin(ids.map(v => Int.box(v.toInt)): _*)
      else F.col("cluster_id").isin(ids.map(Long.box): _*)
    val payload = payloadNames.map(F.col)
    val cand = fl.where(inClusters(wide))
      .withColumn("gk_min_dist",
        F.when(inClusters(narrow), F.lit(0)).otherwise(F.lit(1)))
      .select(payload :+ F.col("gk_min_dist"): _*)
    ladderServe(kVal, sort, projectList, outerList, payload, cand,
      fl, ("ivf", "ivf_w2", "brute"))
  } catch {
    case scala.util.control.NonFatal(e) =>
      logError(s"IVF guaranteed-k ladder fell back to the static probe", e)
      None
  }

  /** The escalation tail shared by both ladder kinds: the single-row
    * level decision, the broadcast level attach, the starved-only
    * brute rung, the union pool with its served-level column, and the
    * re-bind of the caller's projections (by name, original exprIds)
    * under the caller's own sort + limit. `cand` carries the payload +
    * `gk_min_dist` (0 = the registered static probe would have found
    * it, 1 = the widened probe adds it); `bruteSrc` is the
    * every-row-once filtered corpus view. */
  private def ladderServe(kVal: Int, sort: Sort,
                          projectList: Seq[NamedExpression],
                          outerList: Option[Seq[NamedExpression]],
                          payload: Seq[org.apache.spark.sql.Column],
                          cand: org.apache.spark.sql.DataFrame,
                          bruteSrc: org.apache.spark.sql.DataFrame,
                          levels: (String, String, String)): Option[LogicalPlan] = {
    import org.apache.spark.sql.{functions => F}
    // single-row escalation decision: empty candidate set aggregates to
    // (null, 0), and null >= k is false, so starvation lands on level 2
    val lvl = cand.agg(
        F.sum(F.when(F.col("gk_min_dist") === 0, 1).otherwise(0)).as("gk_n0"),
        F.count(F.lit(1)).as("gk_n1"))
      .select(F.when(F.col("gk_n0") >= kVal, F.lit(0))
        .when(F.col("gk_n1") >= kVal, F.lit(1))
        .otherwise(F.lit(2)).as("gk_level"))
    val chosen = cand.crossJoin(F.broadcast(lvl))
      .where(F.col("gk_level") < 2 && F.col("gk_min_dist") <= F.col("gk_level"))
      .select(payload :+ F.col("gk_level"): _*)
    val bruteRung = bruteSrc.crossJoin(F.broadcast(lvl))
      .where(F.col("gk_level") === 2)
      .select(payload :+ F.col("gk_level"): _*)
    val pool = chosen.unionByName(bruteRung)
      .withColumn("index_used",
        F.when(F.col("gk_level") === 0, F.lit(levels._1))
          .when(F.col("gk_level") === 1, F.lit(levels._2))
          .otherwise(F.lit(levels._3)))
    // re-entrant optimization of the composed subtree: the outer
    // optimizer batches have already run, so an un-optimized pool would
    // ship without partition pruning / pushdown; our own rule skips it
    // (the pool's probe filters constrain layout columns -> alreadyProbed)
    val poolPlan = pool.queryExecution.optimizedPlan
    val byName = poolPlan.output.map(a => a.name -> a).toMap
    def isUsedSlot(ne: NamedExpression): Boolean = ne match {
      case a: Alias => a.name == "index_used" && a.references.isEmpty
      case _ => false
    }
    val bindable = projectList.forall(ne =>
      isUsedSlot(ne) || ne.references.forall(r => byName.contains(r.name)))
    // e.g. the caller projects a layout column — a deduped candidate
    // has no honest bucket value, so the static probe serves that plan
    if (!bindable) return None
    var innerUsed: Option[Attribute] = None
    val inner: Seq[NamedExpression] = projectList.map {
      case a: Alias if isUsedSlot(a) =>
        val bound = Alias(byName("index_used"), a.name)(exprId = a.exprId)
        innerUsed = Some(bound.toAttribute)
        bound
      case a: Alias =>
        Alias(a.child.transform { case attr: Attribute => byName(attr.name) },
          a.name)(exprId = a.exprId)
      case attr: Attribute =>
        Alias(byName(attr.name), attr.name)(exprId = attr.exprId)
    }
    // the caller's index_used slot may have been floated into the OUTER
    // envelope projection instead — then the inner projection must pass
    // the served level through for the outer slot to re-point at
    val outerNeedsUsed = outerList.exists(_.exists(isUsedSlot))
    val passUsed: Option[NamedExpression] =
      if (outerNeedsUsed && innerUsed.isEmpty)
        Some(Alias(byName("index_used"), "index_used")())
      else None
    val sorted = Sort(sort.order, global = true,
      Project(inner ++ passUsed, poolPlan))
    val limited = GlobalLimit(Literal(kVal), LocalLimit(Literal(kVal), sorted))
    val servedUsed = innerUsed.orElse(passUsed.map(_.toAttribute))
    val outer2 = outerList.map(_.map {
      case a: Alias if isUsedSlot(a) =>
        Alias(servedUsed.get, a.name)(exprId = a.exprId)
      case ne => ne
    })
    Some(outer2.map(Project(_, limited)).getOrElse(limited))
  }

  /** The SCORING rewrite, shared by the PQ kind (r14 verdict #4) and
    * the SQ8 kind (r15 open thread #1): no filter can express a
    * compressed-domain score, so the plan becomes two staged
    * [[LshProbeTopK]] operators over ONE scan —
    *
    *   outer: exact top-k under the CALLER's (cosine DESC, id) order
    *     └ inner: top-`shortlist` by `<scoreName>(code)` (the per-query
    *       lookup table is computed here, driver-side, from the
    *       registration — [[graft.index.PqKnn.adcTable]] for PQ,
    *       [[graft.index.SqKnn.adcTable]] for SQ8; both feed the same
    *       [[graft.expressions.AdcScore]] codegen expression),
    *       passing through only the columns the caller's projection
    *       needs
    *         └ the registered codes+floats scan
    *
    * i.e. compressed-scan → exact-rerank-of-shortlist, the FAISS
    * `refine` composition with semantics identical to
    * [[graft.index.PqKnn.searchRefined]] / SQ8's shortlist analog. The
    * inner stage's heap ordering costs one byte-indexed add per LUT
    * dimension instead of a dim-float dot, and only `shortlist` rows
    * reach the exact rerank. Scale note, stated honestly: THIS layout
    * fuses codes and floats in one table, so the scan still READS the
    * float column for all rows — the compute win is real (the ADC heap
    * costs m byte adds/row vs dim float multiplies), but the I/O win
    * of a codes-only scan needs the split layout plus a runtime
    * id-IN-shortlist fetch of the floats, which Spark's static
    * planning cannot express in one plan —
    * [[graft.index.PqIndexStore.searchRefinedSplit]] is that serving
    * shape as a two-plan staged execution (gated by ann_pq_split;
    * PqServeProbe prices the bytes at 1M rows).
    *
    * Pass-through attributes keep their exprIds through the inner
    * node's projection, so the caller's projectList and sort bind on
    * the outer node unchanged — no attribute remapping. Dedupe keys
    * are the registered unique id (codes-layout rows are unique; the
    * dedupe is the no-op hash probe, kept for the operator's
    * contract). */
  private def stagedScoringProbe(kVal: Int, sort: Sort,
                                 projectList: Seq[NamedExpression],
                                 child: LogicalPlan,
                                 lut: Array[Array[Double]], scoreName: String,
                                 shortlist: Int, idColName: String): Option[LogicalPlan] =
    for {
      idAttr <- child.output.find(_.name == idColName)
      codeAttr <- child.output.find(_.name == "code")
    } yield {
      val adcAlias = Alias(graft.expressions.AdcScore(codeAttr, lut), scoreName)()
      // only the columns the caller's projection references ride the
      // shortlist heap (plus the id); `code` is consumed by the ADC
      // alias inside the inner projection, so the scan is pruned to
      // (refs ∪ id ∪ code) by the physical planner
      val refIds = (projectList.flatMap(_.references.toSeq) :+ idAttr)
        .map(_.exprId).toSet
      val pass = child.output.filter(a => refIds.contains(a.exprId))
      // explicit Project above the scan: the physical planner derives
      // the parquet read schema from Project/Filter nodes directly
      // above the relation (PhysicalOperation), and a custom node in
      // between would leave the scan reading every column
      val scanProj = Project(
        (pass :+ codeAttr).distinctBy(_.exprId).map(a => a: NamedExpression), child)
      val inner = LshProbeTopK(shortlist,
        Seq(SortOrder(adcAlias.toAttribute, Descending),
          SortOrder(idAttr, Ascending)),
        pass :+ adcAlias, Seq(idAttr), scanProj)
      LshProbeTopK(kVal, sort.order, projectList, Seq(idAttr), inner)
    }

  /** The BATCHED rewrite (r16): replace the caller's declared
    * cross-join + per-request window rank over a registered layout with
    * [[graft.index.KnnJoin.lshServeBatched]] /
    * [[graft.index.KnnJoin.ivfServeBatched]] — the broadcast bucket /
    * centroid probe that scans the layout once per request SET (priced
    * at 11–16× over the per-request loop at 100 requests/batch by
    * BatchedServeProbe). This is the optimizer owning the batched
    * strategy the way it owns the single-request probe kinds: the
    * caller declares the SEMANTICS (every request's exact top-k,
    * self excluded) in the one shape plain Spark offers for it — a
    * cross join scored, ranked, cut at k — and the registration picks
    * the physical plan that survives 100 TB.
    *
    * Matched shape (what the optimizer leaves of the declaration by
    * preCBO time; ScratchPlan-verified):
    * {{{
    * Project [q_id, rn, <id> AS neighbor_id, cos]
    *   Filter (rn <= k)
    *     Window [row_number() ... AS rn], [q_id], [cos DESC, id ASC]
    *       WindowGroupLimit [q_id], [cos DESC, id ASC], row_number(), k
    *         Project [q_id, id, cosine_similarity(emb, q_emb) AS cos]
    *           Join Cross, NOT (id = q_id)
    *             <requests subplan>            — anything
    *             Project/Filter-isnotnull over <registered relation>
    * }}}
    * Strict guards, each refusing with None (the declared plan runs —
    * correct, just not index-served):
    *  - the join condition must be EXACTLY the self-exclusion (the
    *    serve's contract; this is also what keeps the rewrite off its
    *    OWN output when the composed plan is re-optimized — the serve's
    *    joins carry multi-conjunct bucket/centroid conditions);
    *  - the layout side must carry no user predicate (a filtered
    *    batched top-k is the ladder's business, not the static serve's)
    *    and no derived columns — bare pruning/null-guards only;
    *  - both id columns must already be LongType (the serve casts to
    *    long; rebinding a long output onto an int attribute would lie
    *    about the schema);
    *  - the caller may only project the serve's envelope
    *    (q_id / rn / neighbor id / cos) — a plan wanting layout payload
    *    columns keeps its exact scan.
    */
  private def batchedServe(orig: LogicalPlan,
                           projList: Seq[NamedExpression],
                           cond: Expression,
                           rnAlias: Alias,
                           qidAttr: Attribute,
                           orderSpec: Seq[SortOrder],
                           wchild: LogicalPlan): Option[LogicalPlan] = try {
    val rnAttr = rnAlias.toAttribute
    val kOpt = cond match {
      case LessThanOrEqual(a: Attribute, IntegerLiteral(k))
        if a.exprId == rnAttr.exprId => Some(k)
      case LessThan(a: Attribute, IntegerLiteral(k))
        if a.exprId == rnAttr.exprId => Some(k - 1)
      case _ => None
    }
    val below = wchild match {
      case wgl: WindowGroupLimit => wgl.child
      case c => c
    }
    for {
      kVal <- kOpt
      if kVal >= 1
      (innerList, join) <- below match {
        case Project(il, j: Join) => Some((il, j))
        case _ => None
      }
      // which join side is the registered layout?
      (reqSide, layoutSide) <-
        if (relationAndRegistration(join.right).isDefined) Some((join.left, join.right))
        else if (relationAndRegistration(join.left).isDefined) Some((join.right, join.left))
        else None
      (layoutRel, reg) <- relationAndRegistration(layoutSide)
      userPreds <- layoutUserPredicates(layoutSide)
      // the caller's score: cosine between the layout vector and the
      // request vector — both plain attributes of their sides
      cosAlias <- innerList.collectFirst {
        case a @ Alias(CosineSimilarity(x: Attribute, y: Attribute), _)
          if (layoutSide.outputSet.contains(x) && reqSide.outputSet.contains(y)) ||
             (layoutSide.outputSet.contains(y) && reqSide.outputSet.contains(x)) => a
      }
      layoutEmb = Seq(cosAlias.child.asInstanceOf[CosineSimilarity].left,
          cosAlias.child.asInstanceOf[CosineSimilarity].right)
        .collectFirst { case a: Attribute if layoutSide.outputSet.contains(a) => a }.get
      reqEmb = Seq(cosAlias.child.asInstanceOf[CosineSimilarity].left,
          cosAlias.child.asInstanceOf[CosineSimilarity].right)
        .collectFirst { case a: Attribute if reqSide.outputSet.contains(a) => a }.get
      if reqSide.outputSet.contains(qidAttr)
      // rank order: cos DESC then layout id ASC — the serve's own order
      (cosOrd, idOrd) <- orderSpec match {
        case Seq(c, i) => Some((c, i))
        case _ => None
      }
      if cosOrd.direction == Descending && idOrd.direction == Ascending
      cosAttrOk = cosOrd.child match {
        case a: Attribute => a.exprId == cosAlias.exprId
        case _ => false
      }
      if cosAttrOk
      neighborAttr <- idOrd.child match {
        case a: Attribute if layoutSide.outputSet.contains(a) => Some(a)
        case _ => None
      }
      // the join must be exactly the self-exclusion
      selfExcluded = join.condition match {
        case Some(Not(EqualTo(l: Attribute, r: Attribute))) =>
          Set(l.exprId, r.exprId) == Set(neighborAttr.exprId, qidAttr.exprId)
        case _ => false
      }
      if selfExcluded &&
        (join.joinType == org.apache.spark.sql.catalyst.plans.Cross ||
          join.joinType == org.apache.spark.sql.catalyst.plans.Inner)
      if qidAttr.dataType == org.apache.spark.sql.types.LongType
      if neighborAttr.dataType == org.apache.spark.sql.types.LongType
      served <- buildBatchedServe(reg, reqSide, layoutRel, qidAttr, reqEmb,
        neighborAttr, layoutEmb, kVal, userPreds)
      bound <- bindBatchedOutput(projList, served, qidAttr, rnAttr,
        neighborAttr, cosAlias.toAttribute)
    } yield bound
  } catch {
    case scala.util.control.NonFatal(e) =>
      logError("batched serve rewrite fell back to the declared plan", e)
      None
  }

  /** The registered LogicalRelation under bare Project/Filter pruning,
    * if any. */
  private def relationAndRegistration(side: LogicalPlan)
  : Option[(LogicalRelation, IndexRegistration)] =
    side.collectFirst {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] &&
        lr.relation.asInstanceOf[HadoopFsRelation].location.rootPaths.exists { rp =>
          registry.containsKey(normalize(rp.toUri.toString))
        } =>
        val fs = lr.relation.asInstanceOf[HadoopFsRelation]
        val key = fs.location.rootPaths
          .map(rp => normalize(rp.toUri.toString)).find(registry.containsKey).get
        (lr, registry.get(key))
    }

  /** Decompose the layout side of a batched declaration into its user
    * predicates. `Some(Nil)` = bare pruning/null guards only (the
    * static batched serve applies); `Some(preds)` = bare shape plus
    * layout-OBLIVIOUS user predicates (the guaranteed-k batched ladder
    * owns those, when the registration opted in); `None` = anything
    * else — derived columns, or a predicate touching layout columns
    * (that is a hand-built probe; the r15 no-stacking rule) — and the
    * declared plan runs untouched. */
  private def layoutUserPredicates(side: LogicalPlan): Option[Seq[Expression]] =
    side match {
      case _: LogicalRelation => Some(Nil)
      case Project(list, child) if list.forall(_.isInstanceOf[Attribute]) =>
        layoutUserPredicates(child)
      case Filter(cond, child) =>
        def conj(e: Expression): Seq[Expression] = e match {
          case And(l, r) => conj(l) ++ conj(r)
          case x => Seq(x)
        }
        val preds = conj(cond).filterNot(_.isInstanceOf[IsNotNull])
        if (preds.exists(_.references.exists(a => layoutNames.contains(a.name))))
          None
        else layoutUserPredicates(child).map(preds ++ _)
      case _ => None
    }

  /** Compose the registered kind's batched serve over the caller's own
    * request subplan and a fresh full-column scan of the layout
    * relation (the caller's side was pruned to id+emb; the serve needs
    * the layout columns back). Returns the re-entrantly optimized plan
    * (the outer batches have already run; the serve's joins carry
    * multi-conjunct conditions, so this rule cannot re-match it). */
  private def buildBatchedServe(reg: IndexRegistration, reqSide: LogicalPlan,
                                layoutRel: LogicalRelation,
                                qidAttr: Attribute, reqEmb: Attribute,
                                neighborAttr: Attribute, layoutEmb: Attribute,
                                kVal: Int,
                                userPreds: Seq[Expression]): Option[LogicalPlan] = {
    val spark = org.apache.spark.sql.SparkSession.active
    import org.apache.spark.sql.graft.SqlShims.{column, ofRows}
    val idName = neighborAttr.name
    val embName = layoutEmb.name
    val requests = ofRows(spark, reqSide)
      .select(column(qidAttr).as(idName), column(reqEmb).as(embName))
    val served = (reg, userPreds) match {
      case (r: Registration, Nil) =>
        Some(graft.index.KnnJoin.lshServeBatched(requests,
          ofRows(spark, layoutRel.newInstance()), r.lsh, r.dim,
          kVal, idName, embName, r.numPhysicalPartitions, r.maxHamming))
      case (r: IvfRegistration, Nil) =>
        Some(graft.index.KnnJoin.ivfServeBatched(requests,
          ofRows(spark, layoutRel.newInstance()), r.cents,
          r.nprobe, kVal, idName, embName))
      case (r: Registration, preds) if r.guaranteeK =>
        // the FILTERED batched declaration under a guaranteeK
        // registration: the in-plan escalation ladder owns
        // recall-under-filter at batch QPS. The layout keeps its
        // ORIGINAL relation node so the extracted predicates bind
        // as-is; requests keep the name-mapped view above.
        Some(graft.index.KnnJoin.lshServeFilteredAdaptiveBatched(requests,
          ofRows(spark, layoutRel), r.lsh, r.dim, kVal,
          userFilter = column(preds.reduce(And)),
          idName, embName, r.numPhysicalPartitions))
      case (r: IvfRegistration, preds) if r.guaranteeK =>
        // the IVF twin (r17, r16 verdict #1): the decision-table's
        // recommended kind now owns recall-under-filter at batch QPS
        // too — nprobe → 2·nprobe → filtered corpus, every request's
        // escalation in ONE plan
        Some(graft.index.KnnJoin.ivfServeFilteredAdaptiveBatched(requests,
          ofRows(spark, layoutRel), r.cents, r.nprobe, kVal,
          userFilter = column(preds.reduce(And)), idName, embName))
      case (r: IvfPqRegistration, preds) if r.guaranteeK && preds.nonEmpty =>
        // filtered batch over the composed kind: the IVF geometry
        // ladder (see the per-request arm's rationale)
        Some(graft.index.KnnJoin.ivfServeFilteredAdaptiveBatched(requests,
          ofRows(spark, layoutRel), r.cents, r.nprobe, kVal,
          userFilter = column(preds.reduce(And)), idName, embName))
      case (r: IvfPqRegistration, Nil) =>
        // the COMPOSED kind at batch QPS (r17, r16 verdict #2): coarse
        // centroid probe per request + staged ADC shortlist + bounded
        // union float fetch + exact rerank, all in one plan
        Some(graft.index.PqKnn.serveBatchedIvfPq(spark,
          ofRows(spark, layoutRel.newInstance()), r.cents, r.nprobe, r.cb,
          requests, idName, embName, kVal, r.shortlist, r.maxBatchFetch))
      case (r: Sq8Registration, Nil) =>
        // the batched declaration over a registered fused SQ8 layout:
        // codes-width scan + per-request scale-folded weights on the
        // broadcast side + union fetch from the same layout
        Some(graft.index.SqKnn.serveBatched(spark,
          ofRows(spark, layoutRel.newInstance()), r.scales, requests,
          idName, embName, kVal, r.shortlist))
      case (r: PqSplitRegistration, Nil) =>
        // the batched declaration over a registered SPLIT layout: the
        // declared corpus×R float scoring becomes one codes-table ADC
        // scan (per-request LUTs on the broadcast side) + a bounded
        // union fetch of the caller's own floats relation + per-request
        // exact rerank. The fetch bound is the registration's policy
        // (maxBatchFetch) — ShortlistFetch fails loud past it, which is
        // the honest contract for a mechanism built on a bounded id
        // list (the declared plan stays available by unregistering).
        Some(graft.index.PqIndexStore().serveBatchedSplitCore(spark,
          ofRows(spark, r.codes match {
            case lr: LogicalRelation => lr.newInstance()
            case other => other
          }), layoutRel, r.cb, requests, idName, embName, kVal,
          r.shortlist, r.maxBatchFetch))
      case (r: PqSplitRegistration, preds)
        if r.guaranteeK && preds.nonEmpty &&
          layoutRel.output.exists(_.name == r.idColName) &&
          preds.forall(!_.references.exists(_.name.equalsIgnoreCase(r.idColName))) &&
          preds.forall(_.references.forall(a =>
            layoutRel.output.exists(_.name == a.name))) =>
        // the FILTERED batched declaration over a guaranteeK split
        // registration (r17, thread (a) at batch arity): the same
        // filter-first construction as the per-request form — the
        // predicate evaluates on a NARROW (id + predicate columns)
        // instance of the floats relation, the surviving ids semi-join
        // into the codes scan, and the batched ADC ranks the FILTERED
        // pool for every request (guaranteed-k by construction — a
        // pool below k serves the pool); the union fetch runs against
        // the caller's own filtered floats plan. Id-column predicates
        // and derived columns refuse (fall through to the declared
        // plan), mirroring the per-request guards.
        val floats2 = layoutRel.newInstance()
        val byName = floats2.output.map(a => a.name -> a).toMap
        val rebound = preds
          .map(_.transform { case a: Attribute => byName(a.name) })
          .reduce(And(_, _))
        val passIds = ofRows(spark,
          Project(Seq(byName(r.idColName)), Filter(rebound, floats2)))
          .select(column(byName(r.idColName)).as("id"))
        val codesDf = ofRows(spark, r.codes match {
            case lr: LogicalRelation => lr.newInstance()
            case other => other
          }).join(passIds, Seq("id"), "left_semi")
        Some(graft.index.PqIndexStore().serveBatchedSplitCore(spark,
          codesDf, Filter(preds.reduce(And(_, _)), layoutRel), r.cb,
          requests, idName, embName, kVal, r.shortlist, r.maxBatchFetch))
      case _ => None // filtered without guaranteeK, or a kind with no batched serve
    }
    served.map(_.queryExecution.optimizedPlan)
  }

  /** Re-bind the caller's projection onto the serve's (q_id, rn,
    * neighbor_id, cos) output, preserving names and exprIds; refuses
    * any reference outside the envelope. */
  private def bindBatchedOutput(projList: Seq[NamedExpression],
                                served: LogicalPlan,
                                qidAttr: Attribute, rnAttr: Attribute,
                                neighborAttr: Attribute, cosAttr: Attribute)
  : Option[LogicalPlan] = {
    val byName = served.output.map(a => a.name -> a).toMap
    val serveNameOf = Map(
      qidAttr.exprId -> "q_id", rnAttr.exprId -> "rn",
      neighborAttr.exprId -> "neighbor_id", cosAttr.exprId -> "cos")
    // the caller's literal index_used placeholder: when the ladder
    // served (its output carries the column), the ENGINE owns the
    // value — the per-request guaranteeK contract, O10's index_used
    // reporting (a surviving placeholder would lie about the level)
    def isUsedSlot(ne: NamedExpression): Boolean = ne match {
      case a: Alias => a.name == "index_used" && a.references.isEmpty
      case _ => false
    }
    if (!projList.forall(ne => isUsedSlot(ne) ||
        ne.references.forall(r => serveNameOf.contains(r.exprId))))
      return None
    val bound = projList.map {
      case a: Alias if isUsedSlot(a) && byName.contains("index_used") =>
        Alias(byName("index_used"), a.name)(exprId = a.exprId)
      case a: Alias =>
        Alias(a.child.transform {
          case attr: Attribute => byName(serveNameOf(attr.exprId))
        }, a.name)(exprId = a.exprId)
      case attr: Attribute =>
        Alias(byName(serveNameOf(attr.exprId)), attr.name)(exprId = attr.exprId)
      case other => return None
    }
    Some(Project(bound, served))
  }

  /** Any user filter beyond bare null guards (`BruteForceKnn.scored`
    * always adds `embCol IS NOT NULL`, which every serving path keeps).
    */
  private def hasNonNullGuardFilter(plan: LogicalPlan): Boolean = {
    def conj(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conj(l) ++ conj(r)
      case x => Seq(x)
    }
    plan.exists {
      case Filter(cond, _) =>
        conj(cond).exists { case IsNotNull(_) => false; case _ => true }
      case _ => false
    }
  }

  /** The split-PQ staged rewrite (see [[PqSplitRegistration]]): ADC
    * shortlist over the registration's codes plan (the same bounded-
    * heap [[LshProbeTopK]] stage the fused kinds use), the bounded id
    * list carried into the caller's own float scan by
    * [[ShortlistFetch]] at execution time, the caller's exact score /
    * sort / limit re-assembled on top as the rerank. The codes relation
    * is re-instanced per rewrite so two rewrites in one query tree
    * cannot collide on exprIds.
    */
  private def splitStagedFetch(kVal: Int, sort: Sort,
                               projectList: Seq[NamedExpression],
                               child: LogicalPlan,
                               r: PqSplitRegistration,
                               qvec: Array[Float]): Option[LogicalPlan] = {
    val codes = r.codes match {
      case lr: LogicalRelation => lr.newInstance()
      case other => other
    }
    for {
      codesId <- codes.output.find(_.name == "id")
      codeAttr <- codes.output.find(_.name == "code")
      _ <- child.output.find(_.name == r.idColName) // fetch side must carry the id
    } yield {
      val adc = Alias(graft.expressions.AdcScore(codeAttr,
        graft.index.PqKnn.adcTable(qvec, r.cb)), "adc_score")()
      val shortlist = LshProbeTopK(r.shortlist,
        Seq(SortOrder(adc.toAttribute, Descending), SortOrder(codesId, Ascending)),
        Seq(codesId, adc), Seq(codesId),
        Project(Seq(codesId, codeAttr), codes))
      val fetched = ShortlistFetch(codesId, child, r.idColName, r.shortlist, shortlist)
      Limit(Literal(kVal), Sort(sort.order, global = true,
        Project(projectList, fetched)))
    }
  }

  /** The FILTERED split-PQ rewrite (r17, open thread (a) — the scoring
    * kinds' guaranteed-k): the plan form of
    * [[graft.index.PqIndexStore.searchRefinedSplitFiltered]]. The
    * caller's metadata predicate is lifted off its filtered float scan
    * and re-bound (by name) onto a FRESH narrow instance of the floats
    * relation — a (id + predicate columns) scan whose wide embedding
    * column parquet never reads — and the surviving ids LEFT-SEMI join
    * into the codes ADC scan, so the shortlist ranks the FILTERED pool
    * (filter-first ⇒ guaranteed-k by construction; a pool below k
    * serves the whole pool, the brute contract). Fetch + rerank are
    * [[splitStagedFetch]]'s: the bounded shortlist rides
    * [[ShortlistFetch]] into the caller's own (still-filtered) float
    * plan, the caller's projection/sort/limit rerank exactly on top.
    *
    * Refusals (None → the declared exact scan runs): a predicate
    * touching the id column (hand-built fetch — stacking would narrow
    * it), a predicate referencing anything that is not DIRECTLY an
    * output attribute of the floats relation — matched by exprId, not
    * name, so a Project alias that shadows a floats column name (a
    * derived 'label' the optimizer could not substitute down to the
    * scan) refuses instead of silently rebinding to the raw column and
    * pruning the wrong pool — or a child whose relation cannot be
    * isolated. */
  private def splitStagedFetchFiltered(kVal: Int, sort: Sort,
                                       projectList: Seq[NamedExpression],
                                       child: LogicalPlan,
                                       r: PqSplitRegistration,
                                       qvec: Array[Float]): Option[LogicalPlan] = {
    val codes = r.codes match {
      case lr: LogicalRelation => lr.newInstance()
      case other => other
    }
    def conj(e: Expression): Seq[Expression] = e match {
      case And(l, rr) => conj(l) ++ conj(rr)
      case x => Seq(x)
    }
    val userPreds = child.collect { case Filter(cond, _) =>
      conj(cond).filterNot(_.isInstanceOf[IsNotNull])
    }.flatten
    val rels = child.collect { case lr: LogicalRelation => lr }
    for {
      codesId <- codes.output.find(_.name == "id")
      codeAttr <- codes.output.find(_.name == "code")
      _ <- child.output.find(_.name == r.idColName)
      if userPreds.nonEmpty && rels.size == 1
      if userPreds.forall(!_.references.exists(_.name.equalsIgnoreCase(r.idColName)))
      // exprId-based admission (r17 ADVICE, medium): every predicate
      // reference must BE an output attribute of the isolated relation
      // — a Project alias shadowing a floats column name has a foreign
      // exprId and refuses here, where a name lookup would rebind it
      // to the raw column and prune the wrong pool.
      if userPreds.forall(_.references.subsetOf(rels.head.outputSet))
      floats2 = rels.head.newInstance()
      rebind = rels.head.output.zip(floats2.output)
        .map { case (o, n) => o.exprId -> n }.toMap
      semiId <- floats2.output.find(_.name == r.idColName)
    } yield {
      val rebound = userPreds
        .map(_.transform { case a: Attribute => rebind(a.exprId) })
        .reduce(And(_, _))
      val semiSide = Project(Seq(semiId), Filter(rebound, floats2))
      val filteredCodes = Join(codes, semiSide, LeftSemi,
        Some(EqualTo(codesId, semiId)), JoinHint.NONE)
      val adc = Alias(graft.expressions.AdcScore(codeAttr,
        graft.index.PqKnn.adcTable(qvec, r.cb)), "adc_score")()
      val shortlist = LshProbeTopK(r.shortlist,
        Seq(SortOrder(adc.toAttribute, Descending), SortOrder(codesId, Ascending)),
        Seq(codesId, adc), Seq(codesId),
        Project(Seq(codesId, codeAttr), filteredCodes))
      val fetched = ShortlistFetch(codesId, child, r.idColName, r.shortlist, shortlist)
      Limit(Literal(kVal), Sort(sort.order, global = true,
        Project(projectList, fetched)))
    }
  }

  /** The LSH candidate-union filter: per-table Hamming-ball bucket
    * disjunctions over the [[graft.index.LshIndexStore]] layout. */
  private def lshProbeFilter(reg: Registration, qvec: Array[Float],
                             child: LogicalPlan): Option[Expression] =
    for {
      tableAttr <- child.output.find(_.name == "table")
      partAttr <- child.output.find(_.name == "bucket_part")
      bucketAttr <- child.output.find(_.name == "bucket")
    } yield {
      val qb = queryBuckets(reg, qvec)
      // The probed bucket set per table: the query's own bucket, plus
      // (under the 1-bit multi-probe policy) every bucket one
      // sign-flip away — identical to candidateMatch(maxHamming = 1).
      def ball(b: Int): Seq[Int] =
        if (reg.maxHamming <= 0) Seq(b)
        else b +: (0 until reg.lsh.numPlanes).map(p => b ^ (1 << p))
      def inOrEq(attr: Attribute, vs: Seq[Int]): Expression =
        if (vs.size == 1) EqualTo(attr, Literal(vs.head, IntegerType))
        else In(attr, vs.map(Literal(_, IntegerType)))
      // Partition-col-only disjunction (prunable by Catalyst) AND the
      // exact per-table bucket disjunction (row filtering). The first
      // is implied by the second (bucket determines bucket_part), so
      // the conjunction is exactly the per-table candidate union.
      val pruneOr = qb.zipWithIndex.map { case (b, t) =>
        And(EqualTo(tableAttr, Literal(t, IntegerType)),
          inOrEq(partAttr,
            ball(b).map(math.floorMod(_, reg.numPhysicalPartitions)).distinct))
          .asInstanceOf[Expression]
      }.reduce(Or(_, _))
      val exactOr = qb.zipWithIndex.map { case (b, t) =>
        And(EqualTo(tableAttr, Literal(t, IntegerType)),
          inOrEq(bucketAttr, ball(b).distinct))
          .asInstanceOf[Expression]
      }.reduce(Or(_, _))
      And(pruneOr, exactOr)
    }

  /** The IVF probe filter: `cluster_id IN (top-nprobe centroids by
    * cosine to the query, id tie-break)` — the same probe list as
    * [[graft.index.IvfKnn.rankClusters]], expressed purely over the
    * layout's PARTITION column so the scan reads nprobe directories.
    * Literal type follows the attribute: a partition column read back
    * from disk is inferred IntegerType when every cluster id fits. */
  private def ivfProbeFilter(reg: IvfRegistration, qvec: Array[Float],
                             child: LogicalPlan): Option[Expression] =
    child.output.find(_.name == "cluster_id").map { clusterAttr =>
      val probeIds = graft.index.IvfKnn.rankClusters(qvec, reg.cents)
        .take(reg.nprobe).map(_._1).toSeq
      def lt(v: Long): Literal = clusterAttr.dataType match {
        case IntegerType => Literal(v.toInt, IntegerType)
        case dt          => Literal(v, dt)
      }
      if (probeIds.size == 1) EqualTo(clusterAttr, lt(probeIds.head))
      else In(clusterAttr, probeIds.map(lt))
    }
}
