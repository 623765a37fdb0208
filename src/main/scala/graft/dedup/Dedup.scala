package graft.dedup

import graft.functions.{TextFunctions, VectorFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graft.SqlShims
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline. Each has the
  * shuffle shape that survives 100 TB:
  *
  *  - exact:      one hash-aggregate on a 128-bit digest (never on the
  *                raw text — the shuffle carries 16 bytes/row, not KBs);
  *  - MinHash:    signature = 64 mins over shingle hashes (one explode +
  *                one aggregate), LSH banding = equi-join on
  *                (band, band-hash) buckets so candidate pairs are found
  *                WITHOUT a cartesian product, then exact-Jaccard verify;
  *  - SimHash:    64-bit sketch, 4×16-bit band blocking (any pair within
  *                Hamming distance 3 shares ≥1 exact band — standard
  *                pigeonhole), verify via bit_count(xor);
  *  - n-gram Jaccard: exact pairwise within a blocking key;
  *  - embedding near-dup: cosine over pairs within a blocking key
  *                (brute) or within LSH buckets (scale path).
  */
object Dedup {

  /** One-generation scratch-cache registry. Several operators here
    * cache an intermediate (shingle arrays, a corpus index) that the
    * RETURNED lazy DataFrame references more than once — a Mmr-style
    * try/finally unpersist is impossible because the cache must stay
    * live until the caller finishes consuming the result, which the
    * operator never observes. Left alone, every invocation pins
    * another corpus-scale cached copy for the session lifetime (the
    * r12 review's leak catch). Instead each call site releases its
    * PREVIOUS invocation's scratch cache on re-entry, bounding live
    * caches at one generation per (session, site). Unpersisting a
    * previous generation that is somehow still mid-consumption is
    * safe — Spark recomputes evicted blocks from lineage.
    */
  private val scratch = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), DataFrame]()

  private def scratchCache(tag: String, df: DataFrame): DataFrame = {
    // sweep entries of stopped sessions so the registry never pins a
    // dead session (or its last cached frame) for the JVM lifetime —
    // the same listener-free eviction Artifacts uses (r12 review)
    scratch.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val prev = scratch.put((df.sparkSession, tag), df)
    // blocking: a lazy unpersist leaves async block eviction running
    // concurrently with the NEXT generation's materialization — the
    // r12 driver bench showed that interleaving as 4-25x GC-inflated
    // timings on the dedup gates with byte-identical plans
    if (prev != null && (prev ne df)) prev.unpersist(blocking = true)
    // serialized storage: these frames carry array<string>/array<long>
    // shingle payloads whose deserialized form is millions of small
    // objects — MEMORY_AND_DISK_SER keeps them as compact byte buffers
    // (one object per block), trading a cheap per-access decode for an
    // order of magnitude less GC scan pressure in long sessions
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
  }

  /** Release every scratch cache held for `spark`, synchronously.
    * Benchmarks call this between timed queries so no timed run
    * overlaps another generation's block eviction; long-running
    * applications may call it at pipeline-stage boundaries to return
    * the shingle caches' storage memory eagerly instead of waiting
    * for the next invocation's one-generation swap.
    */
  def releaseScratch(spark: org.apache.spark.sql.SparkSession): Unit = {
    val it = scratch.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq spark) {
        it.remove()
        e.getValue.unpersist(blocking = true)
      }
    }
  }

  /** Exact duplicate stats per group: n_docs, n_distinct (by md5 of raw
    * text), n_dupes. */
  def exactStats(docs: DataFrame, groupCol: Column, textCol: Column): DataFrame =
    docs.groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(textCol)).as("n_distinct"),
        (count(lit(1)) - countDistinct(md5(textCol))).as("n_dupes"))

  /** Paragraph-level exact dedup with document reassembly — the
    * MassiveText/Gopher "remove duplicated paragraphs across documents"
    * pass (Rae et al. 2021 §A1.2), adapted to this corpus's
    * single-paragraph docs by treating fixed `blockTokens`-token blocks
    * as the paragraph unit. Keep-first global policy: a block survives
    * iff its (doc_id, block_idx) is the lexicographically smallest
    * occurrence of that block's content anywhere in the corpus.
    *
    * Shuffle discipline for 100 TB: raw block TEXT never enters an
    * exchange. The keep-first decision runs on a slim
    * (doc_id, idx, md5(block)) projection (~48 B/block) — one
    * hash-aggregate (min struct per digest) plus one equi-join back to
    * the same slim frame; surviving indexes re-aggregate per document
    * (sorted int list), and the kept text is REBUILT by indexing into
    * the block array recomputed from the original row, so text is only
    * touched inside per-row codegen'd HOFs. Production note: md5 is
    * used because the DuckDB oracle shares it; xxhash128 would halve
    * the digest width.
    *
    * Output: (doc_id, n_blocks, n_kept, kept_ratio,
    * kept_text_md5 — NULL when every block of the doc was seen
    * earlier).
    */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     blockTokens: Int = 10): DataFrame = {
    val toks = split(trim(col(textCol)), " +")
    // An empty / whitespace-only document splits to [""], whose single
    // block is the empty string — left in, it would participate in the
    // GLOBAL keep-first (the first empty doc "keeps" the empty block and
    // every later one reports n_kept=0), an accidental semantics. Filter
    // empty blocks instead: block text from any real token is non-empty
    // by construction, so only empty docs are affected — they carry no
    // paragraphs and are dropped from the report (oracle agrees: its blk
    // CTE applies the same <> '' filter).
    val withBlocks = docs
      .select(col(idCol).cast("long").as("doc_id"), toks.as("w"))
      .withColumn("blks",
        filter(
          transform(sequence(lit(0), ((size(col("w")) - 1) / blockTokens).cast("int")),
            i => concat_ws(" ",
              slice(col("w"), i * blockTokens + lit(1), lit(blockTokens)))),
          b => b =!= lit("")))
    val slim = withBlocks
      .select(col("doc_id"), posexplode(col("blks")).as(Seq("idx", "blk")))
      .select(col("doc_id"), col("idx"), md5(col("blk")).as("h"))
    val firsts = slim.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
      .select(col("h"), col("f.doc_id").as("fd"), col("f.idx").as("fi"))
    val keptIdx = slim.join(firsts, Seq("h"))
      .where(col("doc_id") === col("fd") && col("idx") === col("fi"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("idx"))).as("kept"))
    withBlocks.where(size(col("blks")) > 0)
      .join(keptIdx, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("blks")).cast("long").as("n_blocks"),
        coalesce(size(col("kept")), lit(0)).cast("long").as("n_kept"),
        round(coalesce(size(col("kept")), lit(0)).cast("double") /
          size(col("blks")), 4).as("kept_ratio"),
        when(size(col("kept")) > 0,
          md5(concat_ws(" ",
            transform(col("kept"), i => element_at(col("blks"), i + lit(1))))))
          .as("kept_text_md5"))
  }

  private val MersennePrime = 2147483647L // 2^31 - 1

  /** Deterministic universal-hash family h_i(x) = (a_i*x + b_i) mod p.
    * private[graft]: [[graft.OracleHashSql]] inlines the same constants
    * into the DuckDB oracle so the two engines can never drift. */
  private[graft] def hashFamily(numHashes: Int, seed: Long): Array[(Long, Long)] = {
    val rng = new java.util.Random(seed)
    Array.fill(numHashes) {
      (1L + math.abs(rng.nextLong()) % (MersennePrime - 1),
        math.abs(rng.nextLong()) % MersennePrime)
    }
  }

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private def stringHash(s: String): Long = {
    var h = 1125899906842597L
    var i = 0
    while (i < s.length) { h = splitmix64(h ^ s.charAt(i).toLong); i += 1 }
    h
  }

  /** MinHash signature per document in ONE pass — tokenize, shingle and
    * fold all `numHashes` minima inside a single UDF call. No explode,
    * no shuffle: signatures are embarrassingly parallel per document
    * (the only shuffle left in the pipeline is the band-bucket join).
    * Output: (id, sig ARRAY<LONG>[numHashes]).
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, numHashes: Int = 64,
                        seed: Long = 42L): DataFrame = {
    val fam = hashFamily(numHashes, seed)
    val sigUdf = udf { (text: String) =>
      if (text == null) null
      else {
        val toks = text.trim.split(" +")
        if (toks.length < shingleSize) null
        else {
          val sig = Array.fill(numHashes)(Long.MaxValue)
          toks.sliding(shingleSize).foreach { w =>
            val x = math.floorMod(stringHash(w.mkString(" ")), MersennePrime)
            var i = 0
            while (i < numHashes) {
              val (a, b) = fam(i)
              val v = math.floorMod(a * x + b, MersennePrime)
              if (v < sig(i)) sig(i) = v
              i += 1
            }
          }
          sig
        }
      }
    }
    docs.select(col(idCol).as("id"), sigUdf(col(textCol)).as("sig"))
      .where(col("sig").isNotNull)
  }

  /** (id, band_id, band_hash) — the banded form of a signature table.
    * This is the AT-REST shape of a MinHash index: a 100 TB pipeline
    * materializes it once per corpus snapshot (bands × 12 bytes per
    * doc) and every later consumer — full self-dedup
    * ([[minhashCandidatePairs]]) or incremental ingest
    * ([[incrementalNearDups]]) — equi-joins against it instead of
    * re-signing the corpus.
    */
  def bandedSignatures(signatures: DataFrame, idCol: String = "id",
                       numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val rowsPerBand = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band_id"),
        xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("band_hash"))
    }
    signatures
      .select(col(idCol), explode(array(bandStructs: _*)).as("band"))
      .select(col(idCol), col("band.band_id"), col("band.band_hash"))
  }

  /** Candidate near-dup pairs via LSH banding of MinHash signatures:
    * `bands` bands of numHashes/bands rows each; docs sharing any
    * band's full sub-signature become a candidate pair. The heavy work
    * is an equi-join on (band_id, band_hash) — shuffle-partitioned,
    * no cartesian.
    * Output: (id_a, id_b) with id_a < id_b, distinct.
    */
  def minhashCandidatePairs(signatures: DataFrame, idCol: String = "id",
                            numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val banded = bandedSignatures(signatures, idCol, numHashes, bands)
    val a = banded.toDF(s"id_a", "band_id", "band_hash")
    val b = banded.toDF(s"id_b", "band_id", "band_hash")
    a.join(b, Seq("band_id", "band_hash"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** MinHash signature from a document's (distinct) shingle array —
    * the same hash stream as [[minhashSignatures]] (min is unaffected
    * by shingle multiplicity), but computable from a shared shingle
    * column instead of re-tokenizing the text.
    */
  private def sigFromShingles(numHashes: Int, seed: Long) = {
    val fam = hashFamily(numHashes, seed)
    udf { (shingles: collection.Seq[String]) =>
      if (shingles == null || shingles.isEmpty) null
      else {
        val sig = Array.fill(numHashes)(Long.MaxValue)
        shingles.foreach { s =>
          val x = math.floorMod(stringHash(s), MersennePrime)
          var i = 0
          while (i < numHashes) {
            val (a, b) = fam(i)
            val v = math.floorMod(a * x + b, MersennePrime)
            if (v < sig(i)) sig(i) = v
            i += 1
          }
        }
        sig
      }
    }
  }

  /** MinHash+LSH near-dup pipeline: signatures → banded candidates →
    * exact-Jaccard verify → threshold.
    *
    * One cached table of per-document distinct-shingle ARRAYS feeds
    * both the signature UDF and the verify step, so the text is
    * tokenized once and there is no (id, shingle) posting shuffle at
    * all: candidates come from the band-bucket equi-join, and the
    * verify is one `array_intersect` per candidate pair (union size
    * derived from the distinct-array sizes) on the candidate pairs
    * only — pairs are rare relative to the corpus (that is the point
    * of banding), so joining the arrays to ≪N pairs beats shuffling
    * N×|shingles| postings three ways even at 100 TB.
    */
  /** (id, shs ARRAY<STRING>) — one row per id with its DISTINCT word
    * shingles. One row per id even under a doubled input row (upstream
    * double-append — exactly what a dedup module must tolerate), which
    * would otherwise multiply every candidate pair through the verify
    * joins. max_by over a 64-bit hash of the array picks
    * DETERMINISTICALLY when the same id somehow carries different text
    * (dropDuplicates would keep a partition-order-dependent row) while
    * keeping the aggregate's ordering comparisons on an 8-byte long —
    * max(shs) directly compared array<string> values element-wise in
    * the SortAggregate's update path, the GC-heavy spot in the r12
    * driver forensics. A hash collision between two DIFFERENT arrays
    * under one id would make the pick arbitrary-but-stable; at 2^-64
    * per conflicting id that is below every other determinism risk in
    * the pipeline.
    */
  private def distinctShingleArrays(docs: DataFrame, idCol: String,
                                    textCol: String, shingleSize: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        array_distinct(TextFunctions.wordNgramsFast(shingleSize)(col(textCol))).as("shs"))
      .where(size(col("shs")) > 0)
      .groupBy(col("id")).agg(max_by(col("shs"), xxhash64(col("shs"))).as("shs"))

  /** `cache = false` skips the one-generation scratch cache of the
    * shingle arrays: right for TINY inputs consumed inside one action
    * (the ingest stream's within-batch self-check), where recomputing
    * the shingle UDF per plan reference is cheaper than a persist +
    * blocking unpersist per micro-batch (r19 — guide §5: caching only
    * pays when recompute beats the cache machinery). Deterministic
    * either way (UDF + max_by tie-break), so rows are unchanged. */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.5, shingleSize: Int = 3,
                      numHashes: Int = 64, bands: Int = 16, seed: Long = 42L,
                      cache: Boolean = true): DataFrame = {
    val docsh0 = distinctShingleArrays(docs, idCol, textCol, shingleSize)
    val docsh = if (cache) scratchCache("minhash_docsh", docsh0) else docsh0
    val sigs = docsh.select(col("id"), sigFromShingles(numHashes, seed)(col("shs")).as("sig"))
    val cands = minhashCandidatePairs(sigs, "id", numHashes, bands)
    cands
      .join(docsh.toDF("id_a", "shs_a"), "id_a")
      .join(docsh.toDF("id_b", "shs_b"), "id_b")
      // |A∪B| = |A|+|B|−|A∩B| exactly, because both arrays are
      // array_distinct by construction — one hash-based intersect per
      // pair instead of intersect + union (the union materialized a
      // second shingle-sized array per candidate pair; r18 measured the
      // verify step's task CPU dominated by exactly that allocation)
      .withColumn("n_inter", size(array_intersect(col("shs_a"), col("shs_b"))))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("shs_a")) + size(col("shs_b")) - col("n_inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Incremental ingestion dedup: which BATCH documents are near-dups
    * of the standing CORPUS? Returns verified cross matches
    * (batch_id, corpus_id, jaccard ≥ threshold); the caller anti-joins
    * the batch against batch_id to admit survivors.
    *
    * This is the shape that makes continuous ingestion affordable at
    * 100 TB: the corpus side reduces to its stored banded index
    * ([[bandedSignatures]] — built once per snapshot, bands rows ×
    * 12 bytes per doc), so a nightly crawl re-signs only the batch and
    * equi-joins its bands against the at-rest table — cost scales with
    * the batch, never the corpus. Re-running [[minhashNearDups]] over
    * corpus+batch would re-shingle and re-shuffle the full corpus per
    * ingest. Verification joins shingle arrays only for candidate
    * pairs (rare, by banding). Same hash family / banding / verify as
    * the self-dedup path, so the ingest decision agrees exactly with
    * what a full re-dedup would conclude about cross pairs.
    */
  def incrementalNearDups(corpus: DataFrame, batch: DataFrame, idCol: String,
                          textCol: String, threshold: Double = 0.5,
                          shingleSize: Int = 3, numHashes: Int = 64,
                          bands: Int = 16, seed: Long = 42L): DataFrame = {
    val (shC, bandC) = corpusIndex(corpus, idCol, textCol, shingleSize, numHashes, bands, seed)
    incrementalNearDupsAgainst(scratchCache("incr_corpus_sh", shC), bandC, batch, idCol, textCol,
      threshold, shingleSize, numHashes, bands, seed)
  }

  /** The AT-REST corpus artifacts [[incrementalNearDupsAgainst]]
    * consumes: (shingle arrays (id, shs), banded signatures (id,
    * band_id, band_hash)). A 100 TB pipeline builds these once per
    * corpus snapshot, stores both (bucketed by band for the join;
    * shingles keyed by id for the verify), and every nightly ingest
    * reads them instead of re-shingling the corpus. */
  def corpusIndex(corpus: DataFrame, idCol: String, textCol: String,
                  shingleSize: Int = 3, numHashes: Int = 64,
                  bands: Int = 16, seed: Long = 42L): (DataFrame, DataFrame) = {
    val sh = distinctShingleArrays(corpus, idCol, textCol, shingleSize)
    val banded = bandedSignatures(
      sh.select(col("id"), sigFromShingles(numHashes, seed)(col("shs")).as("sig")),
      "id", numHashes, bands)
    (sh, banded)
  }

  /** [[incrementalNearDups]] against a PREBUILT [[corpusIndex]] — the
    * form an ingest job actually runs: only the batch is signed; the
    * corpus contributes its stored band table to the candidate
    * equi-join and its stored shingle arrays to the (candidate-only)
    * verify join.
    *
    * Shuffle discipline (the r13 IngestScaleProbe catch): the naive
    * equi-join formulation SHUFFLED both corpus-sized tables per
    * ingest — 100 MB at a 100k corpus growing to 869 MB at 1M for the
    * same 10k batch, i.e. per-ingest cost ∝ corpus, exactly the term
    * the incremental shape exists to avoid. When the batch is small
    * (the structural case: nightly batch ≪ standing corpus,
    * `batchDocs ≤ maxBroadcastBatchDocs`), the batch band table is
    * BROADCAST into the candidate join (the corpus band table is
    * scanned, never shuffled) and the verify runs as
    * `corpus ⋈ broadcast(candidate pairs) ⋈ broadcast(batch arrays)` —
    * the corpus shingle table is likewise scanned, never shuffled, and
    * both broadcast sides are ∝ batch + candidates. Per-ingest shuffle
    * is then just the candidate-pair distinct. Oversized batches fall
    * back to the plain shuffled equi-joins, which is the right plan
    * when batch ≈ corpus. Either path is exact — the hash-gated
    * `dedup_incremental` / `dedup_ingest_stream` results are unchanged
    * (inner equi-joins commute; the r19 restructure only reordered
    * them). Measured (IngestScaleProbe, 10k batch): per-ingest shuffle
    * 100→869 MB across a 100k→1M corpus before, FLAT after; wall time
    * still grows because the remaining corpus-side term is the CACHED
    * slim-index scan — scans parallelize across executors with zero
    * network, which is precisely the term one accepts per ingest; the
    * full re-dedup this avoids re-shingles raw text at 12.3 s /
    * 2.08 GB shuffle on the same corpus.
    *
    * DRIVER-ACTION ECONOMY (r19, guide §1.2/§5 — the ingest stream's
    * floor was per-batch PLANNING, not task work): the small-batch
    * verify no longer semi-joins the corpus on counted candidate ids —
    * candidate pairs appear ONCE in the final plan, so the per-call
    * scratch cache and its materializing `candIds.count()` action are
    * gone (one fewer driver action + one fewer blocking unpersist per
    * ingest). The skew guard this retires was a silent fallback to the
    * shuffled plan past 5M candidate ids; a pathologically hot band
    * bucket now surfaces as a LOUD broadcast-size failure instead —
    * callers that expect adversarial indexes can force the shuffled
    * path via `smallBatch = Some(false)`.
    *
    * `smallBatch`: `None` (default) keeps the measured `shB.count()`
    * decision and scratch-caches the batch shingles (they feed two
    * plan subtrees). `Some(s)` asserts the regime — no count, no
    * per-batch cache (a small batch's shingle UDF is cheaper to run
    * twice than to persist + blocking-unpersist every call; the ingest
    * STREAM passes `Some(true)`, its documented structural contract).
    * The flag picks a PLAN, never rows: both paths are exact.
    */
  def incrementalNearDupsAgainst(corpusShingles: DataFrame, corpusBands: DataFrame,
                                 batch: DataFrame, idCol: String, textCol: String,
                                 threshold: Double = 0.5, shingleSize: Int = 3,
                                 numHashes: Int = 64, bands: Int = 16,
                                 seed: Long = 42L,
                                 maxBroadcastBatchDocs: Long = 100000L,
                                 smallBatch: Option[Boolean] = None): DataFrame = {
    val shB0 = distinctShingleArrays(batch, idCol, textCol, shingleSize)
    val (shB, small) = smallBatch match {
      case Some(s) => (shB0, s)
      case None =>
        val cached = scratchCache("incr_batch_sh", shB0)
        // one cheap job over the (now cached) batch shingles: decides
        // the broadcast plan AND pre-materializes the cache outside
        // the joins
        (cached, cached.count() <= maxBroadcastBatchDocs)
    }
    val bandB = bandedSignatures(
      shB.select(col("id"), sigFromShingles(numHashes, seed)(col("shs")).as("sig")),
      "id", numHashes, bands)
    val cands =
      (if (small) broadcast(bandB) else bandB).toDF("batch_id", "band_id", "band_hash")
        .join(corpusBands.toDF("corpus_id", "band_id", "band_hash"),
          Seq("band_id", "band_hash"))
        .select(col("batch_id"), col("corpus_id")).distinct()
    val corpusC = corpusShingles.toDF("corpus_id", "shs_c")
    val shBArrays = shB.toDF("batch_id", "shs_b")
    val withArrays =
      if (small)
        // corpus side scanned, never shuffled: slim pairs then batch
        // arrays each arrive by broadcast, and the pair subtree is
        // referenced exactly once — no scratch cache, no bounding count
        corpusC.join(broadcast(cands), "corpus_id")
          .join(broadcast(shBArrays), "batch_id")
      else cands.join(shBArrays, "batch_id").join(corpusC, "corpus_id")
    withArrays
      // |A∪B| from sizes + intersect — see minhashNearDups' verify
      .withColumn("n_inter", size(array_intersect(col("shs_b"), col("shs_c"))))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("shs_b")) + size(col("shs_c")) - col("n_inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), col("jaccard"))
  }

  /** Exact pairwise n-gram Jaccard within a blocking key (e.g. source).
    * The blocking key bounds the pair count. Shape: one shuffle to group
    * postings by (block, shingle), pair expansion inside each posting
    * list (no self-join — the shingle table is computed and shuffled
    * once, not three times), then a pair-count aggregate.
    *
    * A shingle appearing in F docs of one block emits F² pair-rows, so
    * hot shingles are dropped BEFORE expansion: any (block, shingle)
    * posting list longer than `maxDocFreq` is discarded (standard
    * near-dup practice — a shingle shared by thousands of documents
    * carries no discriminative signal, only quadratic blow-up). The
    * per-task expansion is then bounded by maxDocFreq² per posting.
    * Dropped shingles still count in the |A|/|B| denominators, so the
    * reported jaccard is a LOWER bound for affected pairs. The default
    * cap (256) bounds a single posting's expansion to ~32k pair-rows —
    * the straggler/OOM ceiling a 100 TB run actually needs — while
    * sitting far above any real near-dup signal (a shingle shared by
    * hundreds of documents in one block is boilerplate, not overlap;
    * the hottest sf0.1 posting is 6 docs, so locally the output is
    * bit-identical to uncapped). The DuckDB oracle applies the same
    * HAVING cap.
    */
  def blockedJaccardPairs(docs: DataFrame, idCol: String, textCol: String, blockCol: String,
                          threshold: Double, shingleSize: Int = 3,
                          maxDocFreq: Int = 256): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Per-document distinct-shingle ARRAYS: in-row `array_distinct`
    // replaces the global DISTINCT a (id, shingle) posting table would
    // need — one cached table of N rows feeds both the size lookup
    // and the posting explode.
    // one row per id: a doubled input row would otherwise emit
    // self-pairs from the posting expansion and double the sizes join
    // (the old posting-level DISTINCT absorbed duplicates implicitly).
    // max_by over a 64-bit hash picks deterministically if an id ever
    // carries conflicting (block, text), with the aggregate ordering
    // on a slim long rather than comparing (block, array) structs
    // (see distinctShingleArrays). This aggregation + the two below
    // are the pipeline's wide shuffles; map-side combine collapses
    // duplicates before any array payload moves.
    val docsh = scratchCache("blocked_docsh",
      docs.select(col(blockCol).as("block"), col(idCol).cast("long").as("id"),
          array_distinct(TextFunctions.wordNgramsFast(shingleSize)(col(textCol))).as("shs"))
        .groupBy(col("id")).agg(
          max_by(struct(col("block"), col("shs")),
            xxhash64(col("block"), col("shs"))).as("bs"))
        .select(col("id"), col("bs.block").as("block"), col("bs.shs").as("shs")))
    val sizes = docsh.select(col("id"), size(col("shs")).cast("long").as("n"))
    // pair expansion stays IN EXPRESSION LAND (r19, guide step 4 /
    // §4.1: prefer built-ins over closures): the previous
    // `.as[Seq[Long]].flatMap` deserialized every posting list into
    // Scala objects and re-encoded every emitted pair — the ledger
    // charged 14.7 s of task CPU to that one stage at sf0.1. The
    // nested-transform identity below emits exactly the same sorted
    // i<j pairs (slice is 1-based: element i pairs with positions
    // ≥ i+2) with no serialization boundary.
    val interCounts = docsh
      .select(col("block"), col("id"), explode(col("shs")).as("shingle"))
      .groupBy(col("block"), col("shingle"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .where(size(col("ids")) <= maxDocFreq && size(col("ids")) > 1)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_inter"))
    interCounts
      .join(sizes.toDF("id_a", "n_a"), "id_a")
      .join(sizes.toDF("id_b", "n_b"), "id_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT Jaccard similarity self-join via prefix filtering — the
    * AllPairs / PPJoin candidate bound (Bayardo et al. WWW'07; Xiao et
    * al. WWW'08, reference has no counterpart). Completes the dedup
    * tier's coverage matrix: MinHash is approximate, [[blockedJaccardPairs]]
    * is exact only WITHIN a caller-supplied blocking key (and lossy
    * past its doc-frequency cap) — this one is globally LOSSLESS with
    * no external key and no cap, the canonical exact scale path.
    *
    * How it avoids the cartesian: tokens get a global total order
    * (ascending document frequency, ties by token — rarest first so
    * prefixes index the least-shared tokens). A document with n
    * distinct shingles keeps only its first
    * `p = n - ⌈t·n⌉ + 1` tokens as its PREFIX, and candidates are
    * pairs sharing ≥1 prefix token. Lossless by the prefix-filter
    * theorem: if J(A,B) ≥ t, the smallest-ordered common token sits at
    * position ≤ |A| - |A∩B| + 1 ≤ p_A in A (and symmetrically in B),
    * so it lies in BOTH prefixes — under ANY consistent order; the
    * df-order only shrinks the candidate count.
    *
    * Scale shape: the posting/df pass is two key-only aggregates; the
    * candidate join ships (id, token) keys — never arrays; only
    * CANDIDATE pairs (not all N²) fetch the two shingle arrays back
    * for the exact `array_intersect` verify (codegen'd, no UDF). Shuffle
    * width on the wide stage is bounded by prefix length — for t=0.5
    * roughly half of each posting list — versus EVERY shared token for
    * the naive shared-token join.
    *
    * The ceil is computed with a 1e-9 slack (`⌈t·n − ε⌉`): for
    * thresholds not exactly representable in binary, t·n can land one
    * ulp ABOVE the true rational and the unslacked ceil would shorten
    * the prefix by one — trading a candidate or two for silently lost
    * pairs. The slack errs on the long-prefix (lossless) side.
    */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                         threshold: Double, shingleSize: Int = 3): DataFrame =
    prefixPairsFromShingles(
      scratchCache("prefix_docsh",
        shingleArrays(docs, idCol, textCol, shingleSize)), threshold)

  /** The candidate+verify tail over an ALREADY-BUILT (id, shs) frame —
    * shared so [[prefixJaccardPairsCollapsed]] can reuse the one
    * shingle pass for both the join and its ≥1-shingle validity guard
    * instead of tokenizing every representative text twice.
    *
    * `postings`: an optional pre-built [[prefixPostings]] frame FOR THE
    * SAME docsh AND threshold (prefix lengths are t-dependent) — the
    * at-rest prefix index a resident similarity service materializes
    * per corpus snapshot; when supplied, the df-order/prefix build is
    * skipped and the pass starts at candidate expansion. */
  private[graft] def prefixPairsFromShingles(docsh: DataFrame,
                                             threshold: Double,
                                             postings: Option[DataFrame] = None): DataFrame = {
    val cand = expandPrefixCandidates(
      postings.getOrElse(prefixPostings(docsh, threshold)), threshold)
    // exact verify: the two shingle-hash arrays come back for
    // CANDIDATE pairs only, and |A| / |B| are read off the fetched
    // arrays in-row — joining a separate sizes table twice would be
    // two more shuffles for numbers the arrays already carry
    cand
      .join(docsh.toDF("id_a", "shs_a"), "id_a")
      .join(docsh.toDF("id_b", "shs_b"), "id_b")
      .withColumn("n_inter", size(array_intersect(col("shs_a"), col("shs_b"))).cast("long"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (size(col("shs_a")) + size(col("shs_b")) - col("n_inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** [[prefixJaccardPairs]] composed with an exact-duplicate
    * pre-collapse — same output contract, built as
    * digest-collapse → prefix join over DISTINCT texts → membership
    * re-expansion. On a crawl corpus, exact copies dominate (boilerplate
    * mirrors, syndication): with K-sized exact-dup groups the raw path
    * pays the prefix/verify machinery for every COPY — each group
    * multiplies posting-list lengths by K, and the candidate stage
    * materializes all C(K,2) within-group pairs through the expensive
    * verify. Here the join runs over one representative per distinct
    * text (md5(text) groups, min-id representative), and group
    * membership re-expands afterwards with two slim equi-joins:
    * cross-group pairs inherit the representatives' Jaccard (identical
    * text ⇒ identical shingle set ⇒ identical score), within-group
    * pairs are J = 1.0 by definition — guarded on the representative
    * having ≥1 shingle, so sub-shingle-size texts stay excluded exactly
    * as the raw path excludes them.
    *
    * QUADRATIC-OUTPUT HAZARD: the collapse makes the CANDIDATE/VERIFY
    * work linear in distinct texts, but the pair-list contract itself
    * is still quadratic in group size — a single 1M-copy group yields
    * ~5·10¹¹ within-group OUTPUT rows no matter how they are computed.
    * That cost is inherent to "emit every pair"; pipelines that only
    * need dedup survivors should consume the membership frame (id, rep)
    * or [[duplicateComponents]] instead of expanding pairs.
    */
  def prefixJaccardPairsCollapsed(docs: DataFrame, idCol: String, textCol: String,
                                  threshold: Double, shingleSize: Int = 3): DataFrame = {
    val c0 = collapseCorpus(docs, idCol, textCol, shingleSize)
    prefixPairsOverCollapsed(
      CollapsedCorpus(c0.membership,
        scratchCache("prefix_rep_sh", c0.repSh)), threshold)
  }

  /** Build artifacts of the exact-dup collapse of a corpus SNAPSHOT:
    * `membership` (id → its exact-dup group's min-id representative,
    * one 16-byte row per doc) and `repSh` (representative id → distinct
    * shingle-hash array, one row per DISTINCT text). Both are pure
    * functions of the corpus, computed once per snapshot by a dedup
    * pipeline and consumed by every downstream similarity pass — the
    * same build-artifact contract as the LSH bucketed layout or the
    * component labels. The shingle pass is the operator family's
    * dominant allocator (text → shingles → hashes over every distinct
    * doc), which is exactly why a serving tier materializes it per
    * snapshot, not per query.
    */
  final case class CollapsedCorpus(membership: DataFrame, repSh: DataFrame)

  /** Compute [[CollapsedCorpus]] (no caching — callers choose the
    * retention policy: [[prefixJaccardPairsCollapsed]] scratch-caches
    * one generation per invocation, a resident serving layer pins it
    * per snapshot). */
  def collapseCorpus(docs: DataFrame, idCol: String, textCol: String,
                     shingleSize: Int = 3): CollapsedCorpus = {
    val slim = docs.select(col(idCol).cast("long").as("id"), md5(col(textCol)).as("hd"))
    val reps = slim.groupBy(col("hd")).agg(min(col("id")).as("rep"))
    // (id, rep): one 16-byte row per doc — the only full-corpus shuffles
    // in the composition are on this frame and the digest aggregate
    val membership = slim.join(reps, "hd").select(col("id"), col("rep"))
    val repDocs = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .join(reps.select(col("rep").as("id")), Seq("id"), "left_semi")
    // ONE shingle pass serves both the prefix join and the ≥1-shingle
    // validity guard in [[prefixPairsOverCollapsed]] (tokenizing every
    // representative twice was the r12 review's efficiency catch)
    CollapsedCorpus(membership, shingleArrays(repDocs, "id", "t", shingleSize))
  }

  /** The candidate+verify+re-expansion tail over a built
    * [[CollapsedCorpus]] — the actual similarity join, separated from
    * the snapshot build so a resident pipeline (or the bench) times
    * the join, not the re-tokenization of an unchanged corpus.
    * `postings`: optional per-snapshot [[prefixPostings]] over
    * `c.repSh` at the SAME threshold (see prefixPairsFromShingles). */
  def prefixPairsOverCollapsed(c: CollapsedCorpus, threshold: Double,
                               postings: Option[DataFrame] = None): DataFrame = {
    val repPairs = prefixPairsFromShingles(c.repSh, threshold, postings)
    val cross = repPairs
      .join(c.membership.toDF("a", "rep_a"), col("rep_a") === col("id_a"))
      .join(c.membership.toDF("b", "rep_b"), col("rep_b") === col("id_b"))
      .select(least(col("a"), col("b")).as("id_a"),
        greatest(col("a"), col("b")).as("id_b"), col("jaccard"))
    val valid = c.membership.join(
      c.repSh.select(col("id").as("rep")), Seq("rep"), "left_semi")
    val within = valid.select(col("rep"), col("id").as("id_a"))
      .join(valid.select(col("rep"), col("id").as("id_b")), "rep")
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
    cross.unionByName(within)
  }

  /** One row per id: the distinct shingle array ([[blockedJaccardPairs]]'s
    * in-row `array_distinct` pattern, sans block column) — as XXH64
    * HASHES, not strings. Every downstream stage (document frequency,
    * the prefix ordering, candidate posting lists, the intersect
    * verify) shuffles and compares 8-byte longs instead of ~25-byte
    * shingle strings, measured ~2× on the whole operator. Correctness:
    * a hash collision could only inflate one intersection count by 1;
    * the birthday bound at the gate's 27k-shingle vocabulary is
    * ~2e-11, and the all-SF hash-equality against the string-exact
    * DuckDB oracle verifies no collision fired. (Same argument the
    * MinHash banding gate documents for its xxhash64 bands.)
    */
  private[graft] def shingleArrays(docs: DataFrame, idCol: String, textCol: String,
                            shingleSize: Int): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
        array_distinct(transform(
          graft.functions.TextFunctions.wordNgramsFast(shingleSize)(col(textCol)),
          s => xxhash64(s))).as("shs"))
      .where(size(col("shs")) > 0)
      // slim-key determinism guard — see distinctShingleArrays
      .groupBy(col("id")).agg(max_by(col("shs"), xxhash64(col("shs"))).as("shs"))

  /** The PREFIX-POSTING table of a corpus: one row per (document,
    * prefix token) — (id, n = |shs|, pos = the token's 0-based rank in
    * the doc's df-sorted token list, sh). This is the AT-REST shape of
    * an AllPairs/PPJoin index: a resident similarity service
    * materializes it once per corpus snapshot (prefix lengths depend
    * on the threshold, so it is a per-(snapshot, t) artifact) and
    * every pass starts at candidate expansion.
    *
    * The returned frame is explicitly hash-partitioned by `sh` at
    * defaultParallelism: candidate expansion is the operator's
    * CPU-DENSE stage (Σ|posting|² pair work over a few MB of keys),
    * and AQE's byte-driven coalescing was measured serializing it
    * into 1-2 tasks (r19 ledger: 3.3 s wall on 2 tasks for 1.2 MB of
    * shuffle). A user-specified repartition pins the stage at core
    * count — the groupBy below reuses the partitioning, so the
    * exchange COUNT is unchanged (the repartition replaces the
    * groupBy's own exchange; cached copies preserve it too) — and
    * scales with the cluster rather than with shuffle bytes.
    */
  private[graft] def prefixPostings(docsh: DataFrame, threshold: Double): DataFrame = {
    val posting = docsh.select(col("id"), explode(col("shs")).as("sh"))
    val dfreq = posting.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // the prefix is computed IN-ROW per document: collect each doc's
    // (df, hash) pairs, sort, slice the first n - ⌈t·n⌉ + 1. One
    // groupBy-by-id shuffle replaces the window-rank formulation's
    // exchange+sort PLUS its sizes join (measured: same result, two
    // fewer stages). The sort is per-document (≤ a few hundred
    // elements), not a partition-wide window sort. posexplode keeps
    // each prefix token's 0-based rank in the doc's (df, sh)-sorted
    // token list — the prefix is that list's head, so prefix rank IS
    // global rank, which the positional filter below needs.
    posting.join(dfreq, "sh")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("t"))
      .withColumn("n", size(col("t")).cast("long"))
      .withColumn("p",
        (size(col("t")) - ceil(size(col("t")).cast("double") * threshold - 1e-9) + 1).cast("int"))
      .select(col("id"), col("n"),
        posexplode(transform(slice(col("t"), lit(1), col("p")), x => x("sh"))))
      .toDF("id", "n", "pos", "sh")
      .repartition(docsh.sparkSession.sparkContext.defaultParallelism, col("sh"))
  }

  /** Candidate (id_a, id_b) pairs sharing a prefix token — exposed to
    * the spec so the blocking win (candidates ≪ shared-token pairs) is
    * an asserted observable, not prose.
    */
  private[graft] def prefixCandidates(docsh: DataFrame, threshold: Double,
                                      positional: Boolean = true): DataFrame =
    expandPrefixCandidates(prefixPostings(docsh, threshold), threshold, positional)

  /** Candidate expansion over a [[prefixPostings]] frame (built at the
    * SAME threshold — prefix lengths are t-dependent). */
  private[graft] def expandPrefixCandidates(prefix: DataFrame, threshold: Double,
                                            positional: Boolean = true): DataFrame = {
    // pair generation is ONE grouped pass over the prefix postings
    // ([[blockedJaccardPairs]]'s expansion, minus its doc-frequency
    // cap — prefix tokens are each document's RAREST, so posting lists
    // here are short by construction and losslessness needs no cap).
    // A prefix⋈prefix self-join would instead evaluate the whole
    // posting→dfreq→window chain TWICE — measured 2.3 s of this
    // gate's 4 s at sf0.1 before the rewrite.
    // TWO PPJoin filters ride the expansion for free:
    //  - LENGTH: J ≥ t forces |smaller| ≥ t·|larger| (J ≤ min/max for
    //    any pair), so size-mismatched pairs never materialize.
    //  - POSITIONAL: J ≥ t ⇔ |A∩B| ≥ α = ⌈t/(1+t)·(|A|+|B|)⌉. A shared
    //    token at 1-based sorted ranks (i, j) bounds the overlap IF it
    //    is the pair's first common token: everything common sits at
    //    rank ≥ i in A and ≥ j in B, so |A∩B| ≤ 1 + min(|A|-i, |B|-j).
    //    Dropping a (pair, token) posting whose bound < α is lossless:
    //    a qualifying pair's FIRST common token sits inside both
    //    prefixes (the prefix theorem's witness) and for it the bound
    //    ≥ the true overlap ≥ α — so the pair always survives via that
    //    witness even when later shared tokens are (correctly) pruned.
    // Measured on the sf0.1 gate corpus (tiny shared vocabulary — the
    // adversarial regime): length alone 409k → 310k candidates,
    // length+positional → 125k for the same 256 true pairs, and the
    // verify stage's array-fetch joins shrink with it.
    // The expansion stays in EXPRESSION LAND (r19, guide step 4 — the
    // trigram twin's `.as[...].flatMap` deserialization was HALF its
    // expansion stage's task CPU; same rewrite here): sort_array over
    // (id, n, pos) structs orders by id (first field), the nested
    // transform emits i<j pairs (slice is 1-based: element i pairs
    // with positions ≥ i+2), and both PPJoin filters run as the SAME
    // double arithmetic the closure used (least/greatest mirror
    // min/max; IEEE products commute), so the candidate set — and
    // therefore every verified pair — is unchanged.
    val qv = threshold / (1.0 + threshold)
    def pairOk(x: Column, y: Column): Column = {
      val na = x.getField("n"); val nb = y.getField("n")
      val lenOk = least(na, nb).cast("double") >=
        greatest(na, nb).cast("double") * threshold - 1e-9
      if (!positional) lenOk
      else {
        val pa = x.getField("pos").cast("long"); val pb = y.getField("pos").cast("long")
        val alpha = ceil((na + nb).cast("double") * qv - 1e-9)
        val bound = (lit(1L) + least(na - (pa + 1L), nb - (pb + 1L))).cast("double")
        lenOk && bound >= alpha
      }
    }
    prefix.groupBy(col("sh"))
      .agg(sort_array(collect_list(struct(col("id"), col("n"), col("pos")))).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(
          filter(slice(col("ids"), i + lit(2), size(col("ids"))), y => pairOk(x, y)),
          y => struct(x.getField("id").as("id_a"), y.getField("id").as("id_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      // pin the dedup exchange at core count (guide §2.5): the stage
      // AFTER it carries the broadcast array-fetch verify — CPU-dense
      // per pair, a few MB of keys — and AQE's byte-driven coalescing
      // was measured serializing it onto 2 tasks (1.7 s wall at
      // sf0.1). A user-specified repartition is exempt from
      // coalescing, and distinct() reuses its clustering, so the
      // exchange count is unchanged.
      .repartition(prefix.sparkSession.sparkContext.defaultParallelism,
        col("id_a"), col("id_b"))
      .distinct()
  }

  /** SimHash near-dups: 64-bit sketch, band into 4×16-bit chunks for
    * blocking (pigeonhole: Hamming ≤ 3 ⇒ some 16-bit band identical),
    * verify with bit_count(xor) ≤ maxHamming.
    */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame =
    hammingBandPairs(TextFunctions.simhash64(docs, idCol, textCol),
      idCol, "simhash", maxHamming)

  /** Banded Hamming near-dup pairs over ANY 64-bit sketch column —
    * the candidate machinery [[simhashNearDups]] uses, factored out so
    * other fingerprints (e.g. the image aHash) share it verbatim:
    * 4×16-bit pigeonhole bands generate candidates (≤3 differing bits
    * guarantee a shared band; larger thresholds inherit LSH-style
    * recall), a plain equi-join on (band, value) — never a cartesian —
    * then exact bit_count(xor) verification on the candidates only.
    */
  def hammingBandPairs(sketches: DataFrame, idCol: String, sketchCol: String,
                       maxHamming: Int): DataFrame = {
    val banded = sketches.select(col(idCol).as("id"), col(sketchCol).as("sk"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band_id"),
          shiftright(col(sketchCol), b * 16).bitwiseAND(0xFFFFL).as("band_val"))): _*)).as("band"))
      .select(col("id"), col("sk"), col("band.band_id"), col("band.band_val"))
    val a = banded.toDF("id_a", "sk_a", "band_id", "band_val")
    val b = banded.toDF("id_b", "sk_b", "band_id", "band_val")
    a.join(b, Seq("band_id", "band_val"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sk_a").bitwiseXOR(col("sk_b"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Embedding-cosine near-dup pairs: exact all-pairs for corpora that
    * fit a broadcast, auto-dispatching to the LSH-bucketed path beyond
    * that — the same adaptive pattern as the LSH→brute search fallback
    * (RandomHyperplaneLsh.probeWithFallback), pointed the other way.
    *
    * The exact path is a BROADCAST NESTED-LOOP JOIN on `id_a < id_b`
    * with the codegen'd [[graft.expressions.CosineSimilarity]] as the
    * pair scorer — no driver-side corpus collect anywhere in the plan
    * (the engine's own BroadcastExchange ships the small side), and
    * the probe side streams through whole-stage codegen. cos is
    * dot/(|a||b|) with float inputs in double math — bitwise identical
    * to the previous hand-rolled loop.
    *
    * The dispatch probe is `limit(n+1).count()`, NOT `count()` — at
    * 100 TB the exact path must be ruled out after scanning
    * `broadcastRowLimit + 1` rows, not after a full corpus count.
    *
    * Default dispatch boundary 100k: the exact path is O(n²/2) pairs,
    * and at 100k rows that is already 5×10⁹ dot products — the LSH
    * blocking path is cheaper well before the broadcast itself (a few
    * hundred MB of floats) stops fitting, so the boundary is set by
    * pair-count economics, not broadcast memory.
    */
  def embeddingNearDups(emb: DataFrame, idCol: String, embCol: String,
                        threshold: Double, dim: Int = 64,
                        broadcastRowLimit: Long = 100000L): DataFrame = {
    val nonNull = emb.where(col(embCol).isNotNull)
    val probeRows = math.min(broadcastRowLimit, Int.MaxValue - 2L).toInt + 1
    val fits = nonNull.limit(probeRows).count() <= broadcastRowLimit
    if (fits) embeddingNearDupsExact(nonNull, idCol, embCol, threshold)
    else embeddingNearDupsLsh(nonNull, idCol, embCol, threshold, dim)
  }

  /** The exact all-pairs path of [[embeddingNearDups]]: norms are
    * computed ONCE per row in the projections under the join (they are
    * pair-invariant), so each of the N²/2 pairs costs one codegen'd
    * dot — not a full 3-loop cosine. `cos = dot/(na·nb)` runs the
    * identical double operations as the one-shot cosine expression, so
    * scores are bitwise unchanged.
    */
  private[graft] def embeddingNearDupsExact(emb: DataFrame, idCol: String,
                                            embCol: String, threshold: Double): DataFrame = {
    import graft.expressions.DotProduct
    // spread the PROBE side across the cores before the broadcast
    // nested-loop join (r19, guide §2.5): the N²/2 pair scoring is the
    // operator's entire CPU and streams through the BNLJ at the probe
    // side's parallelism — a session-cached corpus arriving as one
    // scan partition serialized all 50M dot products onto ONE task
    // (ledger: 1.0 s single-task job). Hash on the id (deterministic —
    // guide §2.5's rand-repartition hazard) into core-count
    // partitions; the 8-byte key spreads uniformly.
    val probe = emb.repartition(
      emb.sparkSession.sparkContext.defaultParallelism, col(idCol))
    val left = probe.select(col(idCol).cast("long").as("id_a"), col(embCol).as("emb_a"),
      sqrt(DotProduct(col(embCol), col(embCol))).as("norm_a"))
    val right = emb.select(col(idCol).cast("long").as("id_b"), col(embCol).as("emb_b"),
      sqrt(DotProduct(col(embCol), col(embCol))).as("norm_b"))
    left.join(broadcast(right), col("id_a") < col("id_b"))
      .withColumn("cos",
        when(col("norm_a") === 0.0 || col("norm_b") === 0.0, 0.0)
          .otherwise(DotProduct(col("emb_a"), col("emb_b")) / (col("norm_a") * col("norm_b"))))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Connected components of a near-dup pair graph — the CLUSTER
    * resolution step of a dedup pipeline (pairs say "a≈b"; the
    * pipeline must then keep ONE doc per transitive cluster, so every
    * member needs its cluster id).
    *
    * Algorithm: hash-min + pointer jumping (the "hash-to-min" family,
    * Rastogi et al., "Finding Connected Components in Map-Reduce in
    * Logarithmic Rounds", ICDE 2013). Each round:
    *   1. hash-min:  m(v) = min(label(v), min over neighbors' labels)
    *   2. jump:      label'(v) = m(m(v))
    * Labels are always vertex ids of the same component and
    * monotonically non-increasing (m(x) ≤ x because the closed
    * neighborhood includes x's own label ≤ x, hence m(m(v)) ≤ m(v) ≤
    * label(v)); at the fixpoint every component carries exactly its
    * min id. The jump step composes the min-pointer function with
    * itself, so the distance any label still has to travel to the
    * component min HALVES per round — convergence in O(log diameter)
    * rounds instead of O(diameter). A 200-vertex path (diameter 199,
    * the template-spam chain shape) converges in ~9 rounds where
    * plain min-label propagation needs 199 (spec'd in DedupSpec).
    *
    * Scale shape per round: one equi-join + one min-aggregate
    * (hash-min) and one self-equi-join (jump), all shuffled on vertex
    * id — the same key every round, so AQE reuses the partitioning.
    * Each round materializes as a cached frame read back through a
    * one-node plan leaf ([[RoundLeaf]]), not as a bare persist: the
    * jump step references m twice and m references the previous
    * labels, so the LOGICAL plan would double per round — exponential
    * in rounds — unless every round's plan starts from a leaf. The leaf
    * caps the plan at one round's shape regardless of round count (the
    * iterative-DataFrame truncation GraphFrames gets from checkpoints),
    * while a lost block still recomputes from the RDD lineage behind
    * the cache.
    *
    * NON-CONVERGENCE IS LOUD: if the iteration cap is the stopper the
    * call throws IllegalStateException rather than returning
    * partially-propagated labels — a silent cap would split
    * over-diameter chains into several "components" and corrupt every
    * downstream canonical-selection report. The default cap 25 covers
    * components of diameter ~2²⁵ (33M hops), far past any physical
    * corpus.
    *
    * Returns (id, label): every vertex that appears in some pair,
    * labeled with the min id of its component.
    */
  def duplicateComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame =
    duplicateComponentsWithRounds(pairs, maxIter)._1

  /** One round's frame, cached and counted, and its rows as a
    * one-node plan leaf over the cached scan ([[SqlShims.sizedFrame]])
    * for the next round to build on. Not the cached relation itself
    * ([[SqlShims.cachedLeaf]]): a relation prints its cached plan,
    * which prints the previous round's relation, twice through the jump
    * self-join, so every AQE plan update of a long run would format a
    * string that doubles per round (a 9-round run ran out of heap).
    * `free` drops the round's cache entry. */
  private final class RoundLeaf(df: DataFrame) {
    private val cached = df.cache()
    val leaf: DataFrame = SqlShims.sizedFrame(cached, cached.count())
    def free(): Unit = cached.unpersist(blocking = false): Unit
  }

  /** [[duplicateComponents]] plus the number of rounds actually run —
    * the observable the O(log diameter) convergence spec asserts on.
    */
  def duplicateComponentsWithRounds(pairs: DataFrame, maxIter: Int = 25): (DataFrame, Int) = {
    val edges = pairs.select(col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v"))
      .union(pairs.select(col("id_b").cast("long"), col("id_a").cast("long")))
      .distinct().persist()
    var round = new RoundLeaf(edges.select(col("u").as("id")).distinct()
      .withColumn("label", col("id")))
    var changed = true
    var it = 0
    while (changed && it < maxIter) {
      val labels = round.leaf
      // hash-min: every vertex takes the min label over its closed
      // neighborhood
      val nbrMin = edges.join(labels, edges("v") === labels("id"))
        .select(edges("u").as("id"), col("label"))
      // materialized BEFORE the jump self-join: a self-join over the
      // live union plan trips Catalyst's Union constraint rewrite on
      // the deduplicated expr-ids, and the leaf is needed for plan
      // truncation anyway (see the Scaladoc)
      val mRound = new RoundLeaf(labels.select(col("id"), col("label")).union(nbrMin)
        .groupBy(col("id")).agg(min(col("label")).as("label")))
      val m = mRound.leaf
      // pointer jump: label'(v) = m(m(v)). The inner join is total:
      // every label VALUE is a vertex id (min over closed-neighborhood
      // labels, inductively vertex ids), so it has a row in m.
      val next = new RoundLeaf(m
        .join(m.toDF("pid", "plabel"), col("label") === col("pid"))
        .select(col("id"), col("plabel").as("label")))
      // convergence is an EXISTENCE question, not a count: isEmpty
      // stops at the first changed row (limit-1 under the hood)
      // instead of scanning every vertex per round
      changed = !next.leaf.join(labels.withColumnRenamed("label", "prev"), "id")
        .where(col("label") =!= col("prev")).isEmpty
      // next is eagerly materialized and the convergence check above
      // was the last read of the previous round's blocks — free them
      // now, or a long run holds every round's full vertex-label table
      // (2 cached frames per round) resident at once
      round.free()
      mRound.free()
      round = next
      it += 1
    }
    edges.unpersist()
    if (changed) {
      // nothing will ever read the partial labels — free their
      // cached blocks too, or every failed invocation leaks one full
      // vertex-label table for the session lifetime
      round.free()
      throw new IllegalStateException(
        s"duplicateComponents did not converge in $maxIter rounds — " +
          "labels would be partially propagated (split components). " +
          "Raise maxIter; with pointer jumping, rounds ~ log2(component diameter).")
    }
    (round.leaf, it)
  }

  /** Scale path: hyperplane-LSH bucket blocking, pairs only within
    * buckets, exact cosine verify. Same output contract as
    * [[embeddingNearDups]] minus bucket-missed pairs (tunable recall via
    * numTables/numPlanes).
    *
    * Shuffle discipline (this is the designated 100 TB path): SCORE
    * INSIDE the bucket join, filter, THEN dedup on the slim
    * (id_a, id_b, cos) triples. Ordering matters because the exact
    * verification is the only filter selective enough to shrink the
    * candidate stream, and it can only run before the pair-dedup
    * exchange if the embeddings are still in hand at the join — so the
    * bucket join carries them (numTables× per row, the price of
    * in-join verification), but what crosses the DEDUP exchange is
    * 24 bytes per PASSING pair, never embeddings and never raw
    * candidates. Verification work is per-occurrence (a pair sharing
    * buckets in several tables is scored in each), a deliberate
    * CPU-for-shuffle trade: the dot product is codegen'd and cheap,
    * the exchange is the scarce resource.
    *
    * Two rejected alternatives, measured by DedupProbe's (commit f3d16ab)
    * three-way A/B (broadcasts disabled = the no-broadcastable-side
    * regime of a real corpus):
    *  - dedup-then-score on keys only (pairs distinct → join vectors
    *    back): the threshold can no longer run before the dedup
    *    exchange, so every raw candidate occurrence crosses it —
    *    4× the shuffle of this formulation at the probe scale;
    *  - distinct over (ids + both embeddings) then score: survives in
    *    practice ONLY because Catalyst pushes the cos filter below
    *    the distinct (its inputs are grouping columns); this
    *    formulation is that rescued plan made explicit, minus the
    *    embedding columns in the dedup exchange.
    * For corpora where even numTables× embeddings through the bucket
    * join is too wide, the cluster-then-verify path
    * ([[graft.pipeline.TrainingOps.semDedup]]) is the scale answer:
    * one centroid assignment per row, verification within clusters.
    */
  def embeddingNearDupsLsh(emb: DataFrame, idCol: String, embCol: String,
                           threshold: Double, dim: Int,
                           numTables: Int = 8, numPlanes: Int = 8,
                           seed: Long = 42L): DataFrame = {
    val lsh = graft.index.RandomHyperplaneLsh(numTables, numPlanes, seed)
    val nonNull = emb.where(col(embCol).isNotNull)
    val bucketed = lsh.withBuckets(nonNull, col(embCol), dim)
      .select(col(idCol).as("id"), col(embCol).as("emb"),
        explode(array((0 until numTables).map(t =>
          struct(lit(t).as("t"), col("buckets").getItem(t).as("bucket"))): _*)).as("tb"))
      .select(col("id"), col("emb"), col("tb.t"), col("tb.bucket"))
    val a = bucketed.toDF("id_a", "emb_a", "t", "bucket")
    val b = bucketed.toDF("id_b", "emb_b", "t", "bucket")
    a.join(b, Seq("t", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosine(col("emb_a"), col("emb_b")).as("cos"))
      .where(col("cos") >= threshold)
      .distinct()
  }
}
