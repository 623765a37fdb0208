package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import scala.util.matching.Regex

/** Writes docs/PLANS.md: the formatted physical plan of each headline
  * query at sf0.01 — the artifact to eyeball for pushdown (PushedFilters /
  * ReadSchema), codegen spans, TakeOrderedAndProject, partial
  * aggregation and join strategies. Run-dependent ids are masked
  * ([[normalize]]), so regenerating it over unchanged plans rewrites
  * the same bytes.
  */
object DumpPlans {

  /** Tokens of an explain that change from run to run over the same
    * plans, each with its mask (a regex replacement: `$1` is the
    * pattern's first group). Codegen and AQE stage ids follow the order
    * in which stages happen to be planned or materialized; a broadcast
    * stage's `sizeInBytes` follows the driver heap (the broadcast
    * relation is sized against it), its `rowCount` does not. */
  private val volatileTokens: Seq[(Regex, String)] = Seq(
    raw"#\d+".r -> "#n",                                          // expression ids
    raw"\[plan_id=\d+\]".r -> "[plan_id=n]",
    raw"\*\(\d+\)".r -> "*(n)",                                  // codegen stage ids
    raw"\[codegen id : \d+\]".r -> "[codegen id : n]",
    raw"(QueryStage\n(?:Output .*\n)?Arguments: )\d+".r -> "$1n",  // AQE stage ids
    raw"(BroadcastQueryStage \(\d+\), Statistics\(sizeInBytes=)[^,)]+".r -> "$1n",
    raw"\$$\$$Lambda(\$$\d+)?/0x[0-9a-f]+".r -> raw"\$$\$$Lambda",  // lambda classes
    raw"(?<=[\w$$;\[])@[0-9a-f]{1,8}\b".r -> "@n",                // identity hashes
    raw"Queries\.scala:\d+".r -> "Queries.scala:n")

  /** `plans` with every run-dependent token masked, so two runs over the
    * same plans write the same bytes and a diff shows only plan changes. */
  def normalize(plans: String): String =
    volatileTokens.foldLeft(plans) { case (acc, (re, mask)) => re.replaceAllIn(acc, mask) }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = LocalSpark.builder(8)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val headline = Seq(
      "knn_brute", "knn_brute_filtered", "knn_topk_per_label_agg",
      "q1_pricing_summary", "q3_segment_revenue", "q5_local_supplier_revenue",
      "events_sessionize", "dedup_exact", "dedup_minhash", "events_asof_orders",
      "bm25_search", "hybrid_rrf", "ann_pq",
      // round-5 additions: the driver-collect-free near-dup join and
      // the batch twin of the streaming gate query (the stream runs
      // the same watermarked agg plan incrementally; its micro-batch
      // plan is not a Dataset explain). The knn_lsh_cached probe plan
      // is dumped from inside the query below — the gated query
      // materializes its <= k hit rows, so its own explain is just a
      // LocalTableScan envelope.
      "neardup_embedding", "events_sliding",
      // round-5 training-pipeline additions: the broadcast
      // decontamination join, the per-shard packing window, the
      // unigram-surprisal scorer and the composed end-to-end pipeline
      "decontaminate_ngram", "pack_sequences", "lm_score",
      "pipeline_survivors",
      // round-6 additions: the Bloom-screened decontamination (the
      // screen sits on the exploded gram stream, before any shuffle),
      // the skew-safe TF-IDF top-k and the centroid-inlined
      // cluster-balanced resample
      "decontaminate_bloom", "tfidf_top_terms", "cluster_balance",
      "dedup_semantic",
      // round-7 additions: the one-exchange training-order shuffle
      // (SplitMix64 order key computed in the scan's codegen span),
      // the single-pass logistic quality filter and the map-only PII
      // scrub (both should show zero pre-agg exchanges)
      "shuffle_shard", "quality_logistic", "text_pii_redact",
      // round-10 additions: the batch twin of the stream-stream
      // attribution join (equi-keyed on user, interval predicate as a
      // join-time filter — no cartesian; the streaming twin runs the
      // same join incrementally against the state store) and the
      // incrementally-maintained LSH index (delta-only bucket UDF
      // feeding the same stored-bucket probe as knn_lsh_cached)
      "events_attribution", "knn_lsh_append",
      // the set-to-set kNN graph join (broadcast query side + codegen
      // dot + WindowGroupLimit top-k), its LSH-blocked scale form
      // (bucket equi-join — the plan must show a hash join keyed on
      // (table, bucket), never a cartesian) and the element-wise
      // mean-pool (posexplode collapsed by partial agg pre-shuffle)
      "knn_join_graph", "knn_join_graph_lsh", "embedding_pool",
      // the incremental-ingest dedup (batch bands equi-joined against
      // the corpus band table — both sides hash-partitioned on
      // (band_id, band_hash), verify join bounded to candidates), the
      // per-source quota (must show WindowGroupLimit, not a full
      // window over the shuffled corpus), the BPE pair-count stage
      // (pure-Column HOFs — one explode, partial-agg'd pair counts)
      // and the ordered funnel (each step's user table narrows; the
      // per-step aggregates stay partial before their exchanges)
      "dedup_incremental", "quota_by_source", "bpe_pair_counts",
      "events_funnel", "events_retention",
      // k-NN auto-labeling (the exact-join plan must carry the label
      // through the ONE corpus scan — no join-back exchange — and both
      // windows, top-k and vote-rank, must run as WindowGroupLimit),
      // the zero-shuffle random projection and the broadcast-stats
      // z-score top-20 (TakeOrderedAndProject, no full sort)
      "knn_classify", "embedding_rp", "events_anomaly",
      // iterative graph centrality: each power iteration must be ONE
      // contribution shuffle (partial-agg'd sum by dst) against a
      // nodes-sized rank table — three iterations, three exchanges,
      // never an edges×edges join
      "graph_pagerank",
      // cross-label hard negatives (broadcast-NLJ + WindowGroupLimit,
      // the knn_join_graph shape with the label predicate in the
      // join), the centroid-outlier bottom-20 (labels×dim centroid
      // broadcast back over ONE corpus scan, TakeOrderedAndProject)
      // and the multi-join TPC-H shapes: Q7's double-aliased nation
      // broadcast and Q10's pushed returnflag predicate
      // (PushedFilters on the lineitem scan) with the top-20 as
      // TakeOrderedAndProject over the aggregate
      "hard_negatives", "embedding_outliers", "token_budget",
      "q7_volume_shipping", "q10_returned_items",
      // the perceptual dedup family (each must show the one banded
      // equi-join over 8-byte sketches — mapPartitions decode feeding
      // a hash join, never a cartesian), its keep-first composition
      // (two sketch joins + a left-anti + one aggregate), the
      // broadcast-benchmark semantic decontaminator, and the
      // curriculum scatter (percentile broadcast + one hash exchange,
      // no global sort)
      "multimodal_image_dedup", "multimodal_audio_dedup",
      "multimodal_video_dedup", "pipeline_media_survivors",
      // round-11 TPC-H shapes: Q2's correlated min must appear as an
      // aggregate BROADCAST back onto the priced rows (no re-scan per
      // outer row, no second shuffle for the achiever filter), Q9's
      // dimensions all broadcast with only the orders join + final
      // aggregate exchanging, Q21's EXISTS/NOT-EXISTS as a left-semi
      // and a left-anti join both equi-keyed on orderkey
      "q2_min_cost_supplier", "q9_profit_rollup", "q21_waiting_suppliers",
      // the rest of the TPC-H shape family: Q13's stacked aggregates
      // over a left-outer join, Q17's correlated-avg broadcast-back,
      // Q19's OR-of-ANDs with the derived brand disjunction applied
      // BEFORE the part broadcast, Q22's scalar-subquery broadcast +
      // left-anti, Q4's mixed-condition left-semi, Q15's max-achiever
      // join-back on exact decimals, Q16's distinct-count + denylist
      // anti join, Q20's nested aggregate + broadcast threshold join
      "q13_order_distribution", "q17_small_qty_revenue",
      "q19_disjunctive_revenue", "q22_sales_opportunity",
      "q4_priority_checking", "q15_top_supplier",
      "q16_part_supplier_counts", "q20_dominant_suppliers",
      // Q6 is the pure-pushdown witness (every predicate prunes at the
      // scan, no join anywhere); Q8's market-share ratio must show the
      // double-aliased nation broadcast; Q11's HAVING-vs-global-total
      // is a 1-row broadcast against the per-part aggregate
      "q6_forecast_revenue", "q8_market_share", "q11_important_parts",
      // the prefix-filtered EXACT similarity self-join: every wide
      // stage is keyed by 8-byte shingle hashes or doc ids (shingle
      // STRINGS never leave the scan — they are hashed in-row); the
      // per-doc groupBys carry bounded hash-array payloads, the
      // candidate expansion ships bare (id_a, id_b) keys from grouped
      // posting lists (not a posting⋈posting self-join), and full
      // arrays are fetched only for candidate pairs at the verify
      "simjoin_prefix_jaccard",
      // its exact-dup pre-collapsed composition: the digest collapse is
      // one min-aggregate keyed on md5(text); the prefix machinery runs
      // over the rep-only semi-joined frame; the two re-expansion joins
      // and the within-group self-join are all equi-joins on slim
      // (id, rep) rows — no text, no arrays, no cartesian
      "simjoin_prefix_collapsed",
      // dedup_cluster_stats is deliberately absent: its plan is two
      // tiny aggregates over the CACHED components table, and in a
      // plan-only session (no action has materialized the cache) the
      // explain unrolls the full iterative label-propagation lineage
      // to ~2.5 MB of text with no extra signal
      "decontaminate_semantic", "curriculum_order",
      "token_fertility",
      // trained NB classifier scoring: tokenize-explode joined
      // per-occurrence against the broadcast <= vocabCap x classes
      // model, partial-agg'd straight to (doc, label) score sums
      // (<= classes rows per doc in the only exchange — see
      // NaiveBayes.score + NbScaleProbe), and a per-doc
      // WindowGroupLimit argmax — no driver loop, no UDF
      "classify_nb_lang",
      // round-14 IVF-through-the-rule plans: both must show the custom
      // LshProbeTopK operator over a scan whose PartitionFilters is the
      // cluster_id IN (...) centroid probe — partition pruning reads
      // nprobe of nlist directories, no post-scan row filter, no
      // exchange before the bounded-heap top-k
      "ann_ivf_rule", "ann_ivf_rule_clustered",
      // round-15 scoring-kind plans: both must show TWO staged
      // LshProbeTopK operators (compressed shortlist -> exact rerank)
      // with the adc_score/sq8_score alias in the inner projection and
      // a ReadSchema pruned to (id, embedding, code) — no label, no
      // exchange between the stages
      "ann_pq_rule", "ann_sq8_rule",
      // the composed kind: the same staged pair PLUS the coarse
      // cluster_id partition filter on the scan (PartitionFilters
      // non-empty — nprobe of nlist directories read)
      "ann_ivfpq_rule",
      // the batched escalation ladder: every per-request guaranteed-k
      // decision in ONE plan — broadcast hash joins for the ball
      // candidates and level attach, a BroadcastNestedLoopJoin (not a
      // CartesianProduct) for the starved-request brute rung, and
      // WindowGroupLimit for the per-request top-k
      "knn_filtered_adaptive_batched",
      // r16: the ladder REWRITTEN BY THE RULE from a plain filtered
      // top-k over a guaranteeK registration — same shape as the
      // batched ladder for one request (partition-pruned ball scan,
      // single-row level aggregate broadcast, starved-only brute
      // union), gk_* aliases marking the in-plan escalation, the
      // caller's index_used literal replaced by the served level
      "knn_filtered_rule_adaptive",
      // r16: the same registered-policy ladder in IVF geometry —
      // nprobe -> 2·nprobe -> filtered corpus, candidates from
      // partition-pruned cluster directories, no dedupe (IVF rows are
      // unique), levels ivf/ivf_w2/brute
      "knn_filtered_ivf_adaptive",
      // r16: the same ladder reached from the REST surface — the O12
      // envelope over the registered at-rest tier (engine state ->
      // AtRestIndexBridge -> rule -> ladder); metadata-filter predicate
      // pushed to the layout scan under the ball probe
      "search_o12_registered",
      // r16 single-plan staging: the split-PQ serve through the custom
      // ShortlistFetch operator (bounded driver hop INSIDE doExecute;
      // the plan must show the operator over the codes-side ADC top-k,
      // with the float scan absent — it is re-planned at execution
      // with the pushed id list), hand-built and rule-rewritten
      "ann_pq_split_plan", "ann_pq_split_rule",
      // r16 batched declarations through the rule: the quadratic
      // cross-join+rank declaration must be GONE, replaced by the
      // broadcast bucket equi-join (static), the distance-tagged ball
      // join + level aggregate + starved-only brute rung (ladder), and
      // the ADC codes scan + ShortlistFetch union fetch (split PQ)
      "knn_serve_batched_rule", "knn_filtered_batched_rule",
      "knn_serve_batched_pq", "knn_serve_batched_pq_rule")

    val sb = new StringBuilder
    sb.append("# Physical plans (sf0.01, generated by graft.DumpPlans)\n\n")
    sb.append("What to look for: `PushedFilters`/`ReadSchema` on scans (pushdown +\n")
    sb.append("pruning), `WholeStageCodegen` spans around scoring/filters,\n")
    sb.append("`TakeOrderedAndProject` for top-k (no full sort), `partial_` aggregate\n")
    sb.append("modes (map-side combine), broadcast vs shuffle joins.\n")
    def explainOf(df: org.apache.spark.sql.DataFrame): String = {
      val out = new ByteArrayOutputStream()
      Console.withOut(new PrintStream(out)) { df.explain("formatted") }
      out.toString.trim
    }
    headline.foreach { name =>
      sb.append(s"\n## $name\n\n```\n${explainOf(Queries.all(name)(spark, sfDir))}\n```\n")
    }

    // knn_lsh_cached's interesting plan: the probe over the STORED
    // bucket columns of the gate's own layout artifact — no per-query
    // hashing UDF anywhere in the plan; the bucket filter prunes the
    // cached corpus before the cosine rerank's TakeOrderedAndProject.
    locally {
      import graft.functions.VectorFunctions
      import graft.index.RandomHyperplaneLsh
      import org.apache.spark.sql.functions._
      val lsh = RandomHyperplaneLsh(8, 12, 42L)
      val q = Queries.queryVec(spark, sfDir)
      val probe = Queries.lshBucketed(spark, sfDir)
        .where(lsh.candidateFilter(lsh.queryBuckets(q, q.length)))
        .drop("buckets")
        .withColumn("score", VectorFunctions.cosine(col("embedding"), typedlit(q.toSeq)))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(5)
      sb.append(s"\n## knn_lsh_cached probe (stored-bucket filter over the cached layout)\n\n```\n${explainOf(probe)}\n```\n")
    }

    // flagship custom pieces need setup: at-rest index + rule registration,
    // bucketed warehouse tables
    locally {
      import graft.index.{LshIndexStore, RandomHyperplaneLsh}
      import org.apache.spark.sql.functions._
      val lsh = RandomHyperplaneLsh(8, 12, 42L)
      val idxPath = "target/plans/lsh-index"
      LshIndexStore(lsh, 64).write(Tables.embeddings(spark, sfDir), "embedding", idxPath)
      val q = Queries.queryVec(spark, sfDir)
      graft.plans.LshProbeRewrite.register(idxPath, lsh, 64)
      val topk = spark.read.parquet(idxPath)
        .withColumn("score", graft.expressions.CosineSimilarity(col("embedding"), typedlit(q.toSeq)))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(5)
      sb.append(s"\n## optimizer-rule LSH probe (auto-rewritten top-k-by-cosine)\n\n```\n${explainOf(topk)}\n```\n")
      graft.plans.LshProbeRewrite.clear()
    }
    locally {
      import graft.operators.BucketedTables
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Seq("p_orders", "p_lineitem").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        FileTree.delete(new java.io.File(s"spark-warehouse/$t"))
      }
      BucketedTables.writeBucketed(Tables.orders(spark, sfDir), "p_orders", "o_orderkey", 8, Some("o_orderkey"))
      BucketedTables.writeBucketed(Tables.lineitem(spark, sfDir), "p_lineitem", "l_orderkey", 8, Some("l_orderkey"))
      val j = BucketedTables.colocatedJoin(spark, "p_orders", "p_lineitem", "o_orderkey", "l_orderkey")
      sb.append(s"\n## bucketed co-located join (no Exchange)\n\n```\n${explainOf(j)}\n```\n")
    }
    Files.createDirectories(Paths.get("docs"))
    Files.writeString(Paths.get("docs/PLANS.md"), normalize(sb.toString))
    println(s"PLANS written: ${sb.length} chars")
    spark.stop()
  }
}
