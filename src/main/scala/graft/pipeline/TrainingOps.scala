package graft.pipeline

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The training-data-pipeline operators as a reusable DataFrame-level
  * library surface (column-parameterized — bring your own schema).
  * [[graft.Queries]] wraps these over the fixture tables for the
  * correctness gate; DedupProbe (commit f3d16ab) measured them on a
  * duplicate-heavy 10× corpus. Every operator is deterministic and
  * DuckDB-oracle-checkable; the scale notes on each mirror the gate
  * query's Scaladoc.
  */
object TrainingOps {

  /** Benchmark decontamination: per non-benchmark document, the count
    * of its distinct word `n`-grams that appear anywhere in the
    * benchmark split. The benchmark gram set is distinct-aggregated
    * and BROADCAST (KB–MB for real eval suites); the training side is
    * a projection + explode whose join output is bounded by actual
    * matches. Output: (idCol, n_hits) for contaminated docs only.
    */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    isBenchmark: Column, n: Int = 4): DataFrame = {
    val grams = array_distinct(TextFunctions.wordNgramsFast(n)(col(textCol)))
    val bench = docs.where(isBenchmark)
      .select(explode(grams).as("gram")).distinct()
    docs.where(!isBenchmark)
      .select(col(idCol), explode(grams).as("gram"))
      .join(broadcast(bench), "gram")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
  }

  /** Reproducible stratified sampling: a row survives iff
    * splitmix64(id) mod 100 < rate(stratum). RNG-free — the sample is
    * a pure function of the ids, reproducible across runs, partition
    * orders and cluster sizes. Returns the input plus a `kept`
    * boolean (filter or aggregate downstream as needed).
    *
    * RESERVED OUTPUT COLUMN: `kept` — a caller column of that name is
    * overwritten (bring-your-own-schema API; rename before calling if
    * you need to keep yours).
    */
  def stratifiedKept(docs: DataFrame, idCol: String, ratePct: Column): DataFrame =
    docs.withColumn("kept",
      TextFunctions.samplingBucket(100)(col(idCol)) < ratePct)

  /** Per-group document quota: keep at most `quota` rows per value of
    * `groupCol`, chosen by deterministic splitmix64(id) priority
    * (lowest hash first, ties by id) — the "cap every source/domain at
    * N documents" mixture rule, RNG-free like [[stratifiedKept]] so
    * the kept set is a pure function of the ids (reproducible across
    * runs, partition orders and cluster sizes, and auditable: re-rank
    * any group locally to re-derive its survivors). Returns survivors
    * plus their `qrank` (1-based priority rank within the group).
    *
    * Scale shape: the rank-filter-over-window compiles to Spark's
    * WindowGroupLimit, so each map task keeps only its local
    * top-`quota` per group BEFORE the exchange — the shuffle carries
    * O(groups × quota) rows per task, not the corpus, which is what
    * makes a per-domain cap affordable when one hot domain holds a
    * third of a 100 TB crawl (the hot group's shuffled rows are
    * quota × tasks, regardless of its raw size).
    *
    * RESERVED OUTPUT COLUMNS: `qkey`, `qrank` — caller columns of
    * those names are overwritten.
    */
  /** Temperature-scaled mixture sampling (the multilingual α-sampling
    * rule of mT5/XLM-R): target share q_i ∝ p_i^α flattens the stratum
    * distribution toward uniform as α → 0, expressed here as
    * per-stratum KEEP RATES against the empirical counts —
    * rate_i = (n_min / n_i)^(1−α) — so the smallest stratum keeps
    * everything and larger strata downsample toward the tempered
    * share. α is FIXED at 0.5, which makes the scaling `sqrt`:
    * IEEE-correctly-rounded on every platform, so the DuckDB oracle
    * replays the rates bit-exactly (arbitrary `pow` is
    * libm-dependent — the same reason the logistic gate thresholds on
    * the logit, not the sigmoid). Rates quantize to ⌊rate·10⁴⌋
    * integer thresholds applied via floorMod(splitmix64(id), 10⁴) —
    * RNG-free and reproducible like [[stratifiedKept]]. Returns the
    * input plus `keep_e4` and `kept`.
    *
    * RESERVED OUTPUT COLUMNS: `keep_e4`, `kept`.
    */
  def temperatureKept(docs: DataFrame, strataCol: String, idCol: String): DataFrame = {
    val per = docs.groupBy(col(strataCol)).agg(count(lit(1)).as("__n_rows"))
    val mins = per.agg(min(col("__n_rows")).as("__min_rows"))
    val rates = per.crossJoin(broadcast(mins))
      .select(col(strataCol),
        floor(sqrt(col("__min_rows").cast("double") / col("__n_rows").cast("double"))
          * 10000).cast("long").as("keep_e4"))
    docs.join(broadcast(rates), strataCol)
      .withColumn("kept",
        TextFunctions.samplingBucket(10000)(col(idCol)) < col("keep_e4"))
  }

  def quotaKept(docs: DataFrame, idCol: String, groupCol: String, quota: Int): DataFrame = {
    require(quota >= 1, "quota must be >= 1")
    val w = Window.partitionBy(col(groupCol)).orderBy(col("qkey"), col(idCol))
    docs
      .withColumn("qkey", graft.expressions.SplitMix64(col(idCol)))
      .withColumn("qrank", row_number().over(w))
      .where(col("qrank") <= quota)
      .drop("qkey")
  }

  /** Deterministic global corpus shuffle for training order: rows are
    * scattered across `numShards` shards and totally ordered within
    * each by the codegen'd splitmix64 of their id
    * ([[graft.expressions.SplitMix64]]) — the GPT-style "shuffle the
    * corpus once, then read shards sequentially" layout, with no RNG
    * state anywhere: shard and position are pure functions of the id,
    * so a re-run (or a different cluster size / partition order)
    * reproduces the exact training order bit-for-bit. This is the
    * property a global `orderBy(rand())` cannot give, and it costs ONE
    * hash-partitioned exchange + per-shard local sort instead of a
    * global range sort: shard = floorMod(splitmix64(id), numShards)
    * co-partitions the window with no second exchange. Size
    * `numShards` to the corpus (rows / numShards must fit a task's
    * sort buffer — at 100 TB that means 1e5–1e6 shards, which also
    * makes each output shard a sensible training-file unit); ties are
    * impossible within a shard unless two ids collide in splitmix64,
    * and the (skey, id) sort key keeps even that deterministic.
    *
    * RESERVED OUTPUT COLUMNS: `skey`, `shard`, `pos` — caller columns
    * of those names are overwritten.
    */
  def shuffleShard(docs: DataFrame, idCol: String, numShards: Int): DataFrame = {
    require(numShards >= 1, "numShards must be >= 1")
    val w = Window.partitionBy(col("shard")).orderBy(col("skey"), col(idCol))
    docs
      .withColumn("skey", graft.expressions.SplitMix64(col(idCol)))
      .withColumn("shard", pmod(col("skey"), lit(numShards.toLong)))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
  }

  /** Materialize the [[shuffleShard]] training order on disk: one
    * `shard=N` parquet directory per shard, rows inside each file in
    * exact `pos` order — the layout a training job consumes by
    * reading shard files sequentially. Costs exactly the
    * [[shuffleShard]] exchange: the sort key here is (shard, skey,
    * id) — the very ordering the window already established — so the
    * planner ELIDES the sort (a `pos`-keyed sort would be semantically
    * identical but unprovably so, and would re-sort the whole corpus);
    * it stays in the plan only as a guard if the upstream ordering
    * ever changes. Each `partitionBy` directory then receives its
    * rows from one task in one ordered run — no second exchange, no
    * global sort. The internal `skey` helper is dropped before the
    * write: it is derivable from the id, and at the 1e5–1e6-shard
    * regime an extra 8-byte column is terabytes of stored noise.
    *
    * ORDER CONTRACT: the on-disk FILE order is the training order.
    * That is what a sequential reader (a data loader streaming the
    * shard) sees. A SPARK read of a shard file bigger than
    * `spark.sql.files.maxPartitionBytes` splits it and returns split
    * order — Spark consumers must `.orderBy("pos")` (or size shards
    * under the split threshold, which the task-sized-shard guidance
    * above already implies).
    */
  def writeShards(docs: DataFrame, idCol: String, numShards: Int, path: String): Unit =
    shuffleShard(docs, idCol, numShards)
      .sortWithinPartitions(col("shard"), col("skey"), col(idCol))
      .drop("skey")
      .write.partitionBy("shard").mode("overwrite").parquet(path)

  /** Model-based quality filtering (the CCNet / fastText-classifier
    * step of a training pipeline, with a fixed linear model standing
    * in for the trained weights): a per-document logistic-regression
    * logit over four deterministic text features — token count, mean
    * token length, stopword ratio, duplicate-word ratio — all pure
    * Column expressions that stay inside whole-stage codegen. The
    * sigmoid is monotone, so keep/drop is decided on the LOGIT
    * (`> 0.0` ⇔ probability > 0.5) and no cross-engine `exp` ever
    * enters the oracle comparison; the oracle replays the identical
    * IEEE multiply-add chain (same operand order ⇒ bit-identical
    * doubles, the knn-score trust model). Weights are centered on the
    * corpus medians so the filter genuinely discriminates (~52% kept
    * on the fixture corpus, not 0%/100%).
    *
    * Returns the input plus `logit` and `kept` columns (filter or
    * aggregate downstream). RESERVED COLUMNS: `logit`, `kept`
    * (overwritten in the output) and the working column `__q_feat`,
    * which is DROPPED from the output — a caller column of that name
    * would vanish; rename before calling.
    */
  def qualityLogit(docs: DataFrame, textCol: String): DataFrame = {
    // All four features come from ONE code-point scan
    // ([[graft.expressions.TextQualityFeatures]]): the naive Column
    // form (tokenCount + avgTokenLength + stopwordRatio + distinct
    // ratio) runs a regex tokenize per feature because the stopword
    // HOF blocks codegen subexpression elimination — measured 41 s
    // over the 500k probe corpus even with a materialized token
    // array, vs ~4 s single-pass. The feature struct lands in its own
    // projection so the scan runs once however many fields read it
    // (CollapseProject keeps non-cheap producers used more than once).
    val f = col("__q_feat")
    val n = f.getField("n_tok")
    val nt = n.cast("double")
    val atl = when(n === 0, 0.0)
      .otherwise(f.getField("n_char").cast("double") / nt)
    val sr = when(n === 0, 0.0)
      .otherwise(f.getField("stop_hits").cast("double") / nt)
    val dup = when(n === 0, 0.0)
      .otherwise(lit(1.0) - f.getField("n_distinct").cast("double") / nt)
    val logit = lit(0.05) * (nt - lit(56.0)) +
      lit(2.0) * (atl - lit(4.5)) -
      lit(6.0) * (sr - lit(0.06)) -
      lit(3.0) * (dup - lit(0.54))
    docs.withColumn("__q_feat",
        graft.expressions.TextQualityFeatures(col(textCol),
          Seq("the", "is", "and", "of", "to", "a", "in")))
      .withColumn("logit", logit)
      .withColumn("kept", col("logit") > lit(0.0))
      .drop("__q_feat")
  }

  /** Concat-then-chunk sequence packing: within each (shard) group,
    * documents are concatenated in id order and cut into
    * `binTokens`-token bins; a document lands in the bin where it
    * ENDS. `shardCols` must bound the per-window row count (e.g. an
    * id-range shard), or one big stratum serializes through a single
    * window partition. Output: per (shardCols..., bin_id) doc and
    * token counts.
    *
    * RESERVED OUTPUT/WORKING COLUMNS: `n_tokens`, `cum`, `bin_id`,
    * `n_docs` — caller columns of those names are shadowed/overwritten.
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    shardCols: Seq[Column], binTokens: Int = 512): DataFrame = {
    val w = Window.partitionBy(shardCols: _*).orderBy(col(idCol))
    docs
      .select(shardCols :+ col(idCol) :+
        TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens"): _*)
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("bin_id", floor((col("cum") - 1) / lit(binTokens.toDouble)).cast("long"))
      .groupBy(shardCols :+ col("bin_id"): _*)
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
  }

  /** Cross-document repeated-substring coverage (Lee et al. 2022):
    * per document, its distinct `n`-token windows and how many of
    * them occur in at least one OTHER document. Windows shuffle as
    * md5 digests (16 B), never raw text. Returns (idCol, n_windows,
    * n_shared) for documents with ≥ 1 shared window.
    */
  def substringCoverage(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 8): DataFrame = {
    // Single pass over the corpus: tokenize+explode+md5 once, attach each
    // window's distinct-doc count via a window function over the digest
    // (rows are already distinct (id, w) pairs thanks to array_distinct,
    // so count(*) == countDistinct(id)), then one aggregation per doc.
    // One scan, one shuffle on w, one shuffle on id — the previous shape
    // referenced the un-persisted windows DF three times and re-ran the
    // most expensive projection in the tier on every reference.
    val wnd = docs
      .select(col(idCol),
        explode(array_distinct(TextFunctions.wordNgramsFast(n)(col(textCol)))).as("w0"))
      .select(col(idCol), md5(col("w0")).as("w"))
    wnd
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("w"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .where(col("n_shared") >= 1)
  }

  /** Unigram LM surprisal (the CCNet/KenLM signal at unigram order):
    * per document, token count and mean −log2 p(token) under the
    * corpus unigram distribution, rounded to 4 dp.
    *
    * Skew-safe join shape: occurrences are pre-aggregated to distinct
    * (doc, tok) counts BEFORE anything is keyed by raw token, so the
    * tok-keyed shuffle carries at most one row per document per token.
    * Under a Zipfian vocabulary the posting for "the" is then bounded
    * by the document count, not the corpus token count — the
    * occurrence-keyed join it replaces concentrated the whole corpus'
    * stopword mass into single straggler partitions at 100 TB. The
    * per-doc mean is recovered exactly as the k-weighted average.
    */
  def unigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val perDocTok = docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("k"))
    val freq = perDocTok.groupBy(col("tok")).agg(sum(col("k")).as("n_w"))
    val total = freq.agg(sum(col("n_w")).cast("double").as("total"))
    perDocTok.join(freq, "tok")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(sum(col("k")).as("n_tokens"),
        round(
          sum(col("k").cast("double") * (log(2.0, col("total")) - log(2.0, col("n_w"))))
            / sum(col("k")).cast("double"), 4).as("bits_per_token"))
  }

  /** Head/middle/tail perplexity terciles over [[unigramSurprisal]]'s
    * output — thresholds from two EXACT interpolated percentiles
    * (one partial-aggregating reduce, broadcast back), bucketing as a
    * projection. Never a global ntile: one window partition over the
    * corpus is the scale hazard this shape exists to avoid.
    */
  def perplexityBuckets(scored: DataFrame, bitsCol: String): DataFrame = {
    val th = scored.agg(
      expr(s"percentile($bitsCol, CAST(1 AS DOUBLE)/3)").as("t1"),
      expr(s"percentile($bitsCol, CAST(2 AS DOUBLE)/3)").as("t2"))
    scored.crossJoin(broadcast(th))
      .withColumn("bucket",
        when(col(bitsCol) <= col("t1"), "head")
          .when(col(bitsCol) <= col("t2"), "middle")
          .otherwise("tail"))
  }

  /** [[decontaminate]] behind a Bloom-filter prefilter — the shape that
    * survives a benchmark gram set too large to broadcast raw. The
    * sketch is built with one `stat.bloomFilter` pass (treeAggregate;
    * ~1.2 bytes/gram at 1% FPP vs tens of bytes for the string set),
    * every training-side gram is pre-screened against the broadcast
    * sketch BEFORE anything shuffles, and the surviving ~fpp fraction
    * plus true hits goes through an exact semi-join that removes the
    * false positives — so the output is bit-identical to
    * [[decontaminate]] (the gate shares decontaminate_ngram's oracle).
    * The benchmark gram set is computed twice (sketch build + verify
    * join) — it is the SMALL side by assumption (the method exists
    * because the TRAINING side outgrew everything); a production run
    * with an expensive benchmark projection would persist it.
    * The screen is a Scala UDF by necessity: Spark's own
    * BloomFilterMightContain expression is internal (used by
    * InjectRuntimeFilter), not public API — and the UDF sits on the
    * already-exploded gram stream where it DELETES the downstream
    * shuffle rather than sitting inside one.
    */
  def decontaminateBloom(docs: DataFrame, idCol: String, textCol: String,
                         isBenchmark: Column, n: Int = 4,
                         expectedGrams: Long = 1L << 20,
                         fpp: Double = 0.01): DataFrame = {
    val grams = array_distinct(TextFunctions.wordNgramsFast(n)(col(textCol)))
    val bench = docs.where(isBenchmark)
      .select(explode(grams).as("gram")).distinct()
    val bloom = bench.stat.bloomFilter("gram", expectedGrams, fpp)
    // per-call broadcast; Spark's ContextCleaner reclaims it once the
    // returned plan (whose UDF closure holds the only reference) is
    // garbage-collected — repeated calls don't pin sketches for the
    // session's lifetime
    val bb = docs.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf { (g: String) => g != null && bb.value.mightContain(g) }
    docs.where(!isBenchmark)
      .select(col(idCol), explode(grams).as("gram"))
      .where(mightContain(col("gram")))
      // exact verify on the bloom survivors only — no broadcast hint;
      // the surviving side is ~fpp of the corpus grams and AQE picks
      // the join strategy from its actual runtime size
      .join(bench, "gram")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
  }

  /** The (doc, term, tf) pre-aggregation [[tfIdfTopK]] is built on —
    * exposed so a caller can materialize it ONCE with a lifetime it
    * owns: `val tf = termFrequencies(docs, id, text).persist(); try
    * tfIdfTopK(docs, id, text, tf = Some(tf)) ... finally
    * tf.unpersist()`. This is the long-lived-server shape the
    * `persistTf` flag can't offer (its internal cache has no handle
    * and lives until session end). Schema: (idCol, term, tf).
    */
  def termFrequencies(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("term"))
      .where(length(col("term")) > 0)
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))

  /** TF-IDF top-`k` terms per document (sklearn's smooth-idf variant:
    * idf = ln((N+1)/(df+1)) + 1, score = tf * idf rounded to 4 dp;
    * ties broken by term so the cut is deterministic). Skew-safe by
    * construction: term frequencies are pre-aggregated to distinct
    * (doc, term) rows before anything is keyed by raw term, so the
    * df join shuffles at most one row per document per term — the
    * same shape [[unigramSurprisal]] uses. The per-document top-k
    * window partitions by document id (high cardinality), never
    * globally — and Spark's WindowGroupLimit cuts each partition to k
    * BEFORE the shuffle. Known trade: `tf` is evaluated twice (join
    * input + df derivation; column pruning makes the subtrees differ,
    * so exchanges don't reuse). The one-scan alternative — df as a
    * count over a term-partitioned window — puts every document that
    * contains a stopword into ONE window partition, a straggler far
    * worse at 100 TB than a second tokenize pass. The production
    * levers instead: `persistTf` (session-lifetime internal cache of
    * the (doc, term) counts, ~10x smaller than the raw token stream —
    * 2x end-to-end at the 500k probe, a loss at 5k-doc corpora), or
    * for a caller that must own the cache lifetime, pass `tf =
    * Some([[termFrequencies]](...).persist(...))` and unpersist it
    * when done.
    */
  def tfIdfTopK(docs: DataFrame, idCol: String, textCol: String,
                k: Int = 3, persistTf: Boolean = false,
                tf: Option[DataFrame] = None): DataFrame = {
    // The plan references tf twice (join input + df derivation) and
    // column pruning makes the subtrees differ, so exchange reuse
    // never fires: without a persist the corpus is tokenized twice
    // per action. `persistTf` caches the (doc, term, count) rows —
    // ~10x smaller than the token stream, MEMORY_AND_DISK so it
    // spills rather than OOMs — which measured 54 s -> 27 s at the
    // 500k probe but LOSES at small corpora (cache write costs more
    // than re-tokenizing 5k docs), so the caller picks: set it when
    // the tokenize pass, not the cache, is the expensive side.
    // CACHE LIFETIME: the `persistTf` entry lives until session end
    // (no handle to unpersist an internal DF; Spark evicts LRU under
    // pressure) — a convenience for batch jobs that end with the
    // action. A long-lived server should pass `tf =
    // Some(termFrequencies(...).persist(...))` instead and unpersist
    // on its own schedule; a supplied `tf` (schema (idCol, term, tf),
    // normally from [[termFrequencies]]) is used as-is and `persistTf`
    // is ignored — this function never persists what it doesn't own.
    val tfDf = tf.getOrElse {
      val tf0 = termFrequencies(docs, idCol, textCol)
      if (persistTf)
        tf0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else tf0
    }
    val dfq = tfDf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    tfDf.join(dfq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf").cast("double") *
          (log((col("n_docs") + 1).cast("double") / (col("df") + 1).cast("double"))
            + 1.0), 4))
      .withColumn("term_rank", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))))
      .where(col("term_rank") <= k)
      .select(col(idCol), col("term_rank"), col("term"), col("tf"), col("df"),
        col("score"))
  }

  /** Cluster-balanced resampling (the SemDeDup/topic-balancing shape):
    * vectors are assigned to their nearest trained centroid and each
    * cluster is downsampled toward the uniform share `total/k` with
    * the same RNG-free splitmix64 rule as [[stratifiedKept]] — the
    * keep decision is a pure function of the id, reproducible across
    * cluster sizes. `centers` comes from a seeded MLlib KMeans fit
    * (driver-side KBs); ASSIGNMENT is pure Column math against the
    * inlined centroids — `aggregate`/`zip_with` squared-L2 per center,
    * `array_min` over (dist, cid) structs for the first-min tie-break
    * — so the serving pass is codegen'd and never calls into MLlib.
    * Output per cluster: size, integer keep rate (floor-div percent),
    * kept count and kept-id checksum.
    */
  /** Nearest-centroid id against inlined `centers`: a codegen'd
    * Catalyst expression ([[graft.expressions.NearestCentroid]]) —
    * per-center squared-L2 in doubles, first-min (lowest cid)
    * tie-break, deterministic on both engines and bit-identical to
    * the `zip_with`/`aggregate`/`array_min` Column stack it replaced
    * (which never entered WholeStageCodegen and dominated the
    * cluster-blocked operators once k grew past 8). No MLlib call in
    * the serving path.
    */
  def nearestCentroid(vecCol: Column, centers: Array[Array[Double]]): Column =
    graft.expressions.NearestCentroid(vecCol, centers)

  /** SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs
    * found WITHIN k-means clusters — the cluster blocking is the
    * method: candidate generation drops from N² to Σ|cluster|², and
    * cross-cluster pairs are deliberately never compared (the
    * approximation that makes the method scale; pinned by spec).
    * Norms are computed once per row in the projections under the
    * join, so each surviving pair costs one codegen'd dot — the
    * [[graft.dedup.Dedup.embeddingNearDupsExact]] shape with the
    * broadcast replaced by a cluster-keyed shuffle join: both sides
    * co-partition on cluster_id, so no replication and no cartesian.
    * At 100 TB, k grows with the corpus (the paper's regime), keeping
    * the TYPICAL per-cluster membership bounded — but nothing about
    * k-means enforces balance, and the data this operator exists for
    * (near-duplicate-saturated crawl slices) is exactly what produces
    * one degenerate giant cluster whose single join key would do
    * |cluster|²/2 dots in one task. `maxBlock` bounds that: clusters
    * larger than `maxBlock` are split into nb = ceil(n / maxBlock)
    * deterministic sub-blocks by floorMod(splitmix64(id), nb), and a
    * pair is compared iff its block distance mod nb is in {0, 1,
    * nb-1} (same block or cyclically adjacent) — the
    * [[graft.dedup.Dedup]] `maxDocFreq` posting-cap precedent applied
    * to cluster membership. Join fan-out per (cluster, block) key is
    * ≤ 3·maxBlock² rows, so a giant cluster costs ~3·n·maxBlock dots
    * (linear in n) instead of n²/2, at the price of skipping
    * non-adjacent cross-block pairs — compared coverage of a
    * cluster's pairs is ~3/nb once nb > 3, a documented recall trade
    * the same way cross-CLUSTER pairs are already skipped by design.
    * Clusters with n ≤ maxBlock have nb = 1 and are compared
    * exhaustively, so small-k results are unchanged. The blocking is
    * a pure function of (id, cluster sizes): deterministic across
    * runs and partitionings, and replayed bit-exactly by the DuckDB
    * oracle. Each qualifying pair is emitted exactly once: the
    * smaller-id side keeps its own block as the join key while the
    * other side explodes its distinct {block-1, block, block+1} mod
    * nb, and at most one of those three can equal the probe block.
    *
    * The two join inputs are projections of the same assignment (the
    * corpus is scanned twice, as in any self-join); at scale persist
    * the (id, vec, cluster_id, norm, block) projection once and join
    * it with itself. Threshold compares the RAW cosine; output rounds
    * to 4 dp.
    */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
               centers: Array[Array[Double]], tau: Double,
               maxBlock: Int = 4096): DataFrame = {
    require(maxBlock >= 1, "maxBlock must be >= 1")
    import graft.expressions.DotProduct
    val asg = emb.where(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        nearestCentroid(col(vecCol), centers).as("cluster_id"))
    // per-cluster sizes: k rows, broadcast back for the block count
    val sizes = asg.groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
    val blocked = asg.join(broadcast(sizes), Seq("cluster_id"))
      .withColumn("nb", expr(s"(n + ${maxBlock - 1}) div $maxBlock"))
      .withColumn("block", TextFunctions.subBlock(col("id"), col("nb")))
    val a = blocked.select(col("cluster_id"), col("block").as("bk"),
      col("id").as("id_a"), col("v").as("va"),
      sqrt(DotProduct(col("v"), col("v"))).as("norm_a"))
    val b = blocked.select(col("cluster_id"),
      explode(array_distinct(array(col("block"),
        pmod(col("block") + 1, col("nb")),
        pmod(col("block") - 1, col("nb"))))).as("bk"),
      col("id").as("id_b"), col("v").as("vb"),
      sqrt(DotProduct(col("v"), col("v"))).as("norm_b"))
    a.join(b, Seq("cluster_id", "bk"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cos",
        when(col("norm_a") === 0.0 || col("norm_b") === 0.0, 0.0)
          .otherwise(DotProduct(col("va"), col("vb")) / (col("norm_a") * col("norm_b"))))
      .where(col("cos") >= tau)
      .select(col("cluster_id"), col("id_a"), col("id_b"),
        round(col("cos"), 4).as("cos"))
  }

  def clusterBalance(emb: DataFrame, idCol: String, vecCol: String,
                     centers: Array[Array[Double]]): DataFrame = {
    val k = centers.length
    // ONE corpus pass: aggregate (count, id-sum) per (cluster,
    // sampling-bucket) — at most k x 100 rows, bounded by construction
    // — then sizes, rates and keep decisions all derive from that tiny
    // table. A join-back shape would scan the corpus twice AND
    // re-evaluate the k x dim assignment expression inside the join's
    // injected isnotnull(key) filter. The windows below run over the
    // aggregated k x 100 rows, not the corpus, so the
    // single-partition global frame is bounded, never a scale hazard.
    val perBucket = emb.where(col(vecCol).isNotNull)
      .select(col(idCol),
        nearestCentroid(col(vecCol), centers).as("cluster_id"),
        TextFunctions.samplingBucket(100)(col(idCol)).as("bucket"))
      .groupBy(col("cluster_id"), col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col(idCol)).as("id_sum"))
    val perCluster = Window.partitionBy(col("cluster_id"))
    val overall = Window.partitionBy()
    perBucket
      .withColumn("n_vecs", sum(col("n")).over(perCluster))
      .withColumn("total", sum(col("n")).over(overall))
      .withColumn("rate_pct",
        least(lit(100L), expr(s"(100 * (total div $k)) div n_vecs")))
      .groupBy(col("cluster_id"), col("n_vecs"), col("rate_pct"))
      .agg(
        sum(when(col("bucket") < col("rate_pct"), col("n")).otherwise(lit(0L)))
          .as("n_kept"),
        // otherwise(0): a cluster whose rate floors to 0 keeps nothing
        // and reports (n_kept=0, kept_id_sum=0) — without it SUM over
        // no matching buckets is NULL and consumers see a 0/NULL
        // asymmetry between the two columns
        sum(when(col("bucket") < col("rate_pct"), col("id_sum")).otherwise(lit(0L)))
          .as("kept_id_sum"))
  }

  /** Domain-mixture weights: per stratum, token counts, corpus share,
    * and the uniform-rebalance sampling weight min(1, min_stratum /
    * stratum) — apply the weight and every stratum contributes equal
    * tokens. Totals travel as a 1-row broadcast.
    */
  def mixtureWeights(docs: DataFrame, strataCol: String, textCol: String): DataFrame = {
    val per = docs.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col(textCol)).cast("long")).as("n_tokens"))
    val totals = per.agg(sum(col("n_tokens")).as("total_tokens"),
      min(col("n_tokens")).as("min_tokens"))
    per.crossJoin(broadcast(totals))
      .select(col(strataCol), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("total_tokens"), 4).as("share"),
        round(least(lit(1.0), col("min_tokens").cast("double") / col("n_tokens")), 4).as("weight"))
  }
}
