package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for a training-data pipeline, built as pure
  * Column combinators (whole-stage codegen; no UDFs, no driver work) so
  * they run unchanged over a 100 TB `documents` corpus.
  *
  * Language-ID dictionaries and the quality formula are deliberately
  * simple/deterministic — the point is the distributed shape (tokenize
  * once, derive everything from the token array) and oracle-checkable
  * semantics.
  */
object TextFunctions {

  /** Whitespace tokenization: split on runs of whitespace after trim. */
  def tokens(text: Column): Column = split(trim(text), " +")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Sliding word n-grams (shingles). Empty array when the document has
    * fewer than n tokens. 1-based element_at.
    */
  def wordNgrams(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Single-pass shingling — semantically identical to [[wordNgrams]]
    * (same trim/split) but tokenizes once per document. The pure-Column
    * version re-evaluates the regex split for every element_at
    * reference inside the transform lambda (measured ~20× on the
    * shingle-table build); the former Scala-UDF form paid a per-row
    * Catalyst↔Scala conversion. Now a native codegen'd Expression
    * ([[graft.expressions.WordNgrams]]) — the dedup hot path stays
    * entirely inside WholeStageCodegen.
    */
  def wordNgramsFast(n: Int): Column => Column =
    graft.expressions.WordNgrams.ngrams(n)

  /** Count of tokens that appear in a fixed dictionary. */
  def dictHits(text: Column, dict: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(dict)))

  /** [[dictHits]] over an ALREADY-TOKENIZED array column — callers
    * that probe several dictionaries (language ID) tokenize once and
    * reuse the array instead of re-running the regex split per
    * dictionary (higher-order lambdas block subexpression
    * elimination, so the shared-subtree dedup must be explicit).
    */
  def dictHitsArr(toks: Column, dict: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(dict)))

  private val langDicts: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "is", "and", "of", "to"),
    "de" -> Seq("der", "und", "ist", "die", "das"),
    "es" -> Seq("el", "la", "que", "de", "y"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  /** Heuristic language ID: argmax of per-language stopword hits, ties
    * broken by dictionary order above; "und" (undetermined) when no
    * dictionary matches at all. Tokenizes once per row (the per-dict
    * probes run over a shared array bound by a higher-order transform,
    * not five independent regex splits).
    */
  def langId(text: Column): Column =
    // bind the token array once via a single-element transform so the
    // split genuinely evaluates once per row — five filter lambdas
    // over the same subtree would otherwise each re-run it (lambda
    // bodies are excluded from codegen subexpression elimination)
    element_at(transform(array(tokens(text)), ts => langIdFromTokens(ts)), 1)

  /** [[langId]] over an ALREADY-TOKENIZED array column. */
  def langIdFromTokens(toks: Column): Column = {
    val hits = langDicts.map { case (lang, dict) => lang -> dictHitsArr(toks, dict) }
    val maxHits = greatest(hits.map(_._2): _*)
    val firstArgmax = hits.foldRight(lit("und")) { case ((lang, h), acc) =>
      when(h === maxHits, lit(lang)).otherwise(acc)
    }
    when(maxHits <= 0, lit("und")).otherwise(firstArgmax)
  }

  /** Ratio of English-stopword tokens to all tokens (0 when empty). */
  def stopwordRatio(text: Column, stopwords: Seq[String] = Seq("the", "is", "and", "of", "to", "a", "in")): Column = {
    val n = tokenCount(text)
    when(n === 0, 0.0).otherwise(dictHits(text, stopwords).cast("double") / n.cast("double"))
  }

  /** Mean token length in characters. */
  def avgTokenLength(text: Column): Column = {
    val n = tokenCount(text)
    when(n === 0, 0.0)
      .otherwise(length(regexp_replace(trim(text), " +", "")).cast("double") / n.cast("double"))
  }

  /** Composite quality score in [0, 1]: length saturation minus
    * stopword-spam penalty. Deterministic and oracle-expressible.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / lit(100.0), lit(1.0))
    val stopPenalty = stopwordRatio(text)
    lit(0.5) * lenScore + lit(0.5) * (lit(1.0) - stopPenalty)
  }

  /** PII scrub patterns — deliberately restricted to constructs with
    * identical semantics in java.util.regex (the engine) and RE2 (the
    * DuckDB oracle): character classes, bounded repetition, `\b`. No
    * backreferences, no lookaround (RE2 has neither). The IPv4
    * pattern is scoped to the RFC-1918 10/8 block the fixtures
    * inject — a production scrubber would widen it; the machinery
    * (ordered global replace + per-pattern counts) is what's under
    * test. Kept `String` (not Column) so specs can replay them with
    * plain `java.util.regex` against the engine output.
    */
  val EmailRx = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRx = "\\b555-[0-9]{4}\\b"
  val Ipv4Rx = "\\b10\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Count of matches of one scrub pattern — codegen'd
    * `regexp_count`, no UDF. */
  def piiCount(text: Column, rx: String): Column = regexp_count(text, lit(rx))

  /** Redact all email / phone / IPv4 matches with typed tags, in that
    * fixed order (the order is part of the contract — a later pattern
    * never sees text a earlier one replaced, on either engine). All
    * three replacements are global on both engines (Spark
    * `regexp_replace` always is; the oracle passes the `g` flag).
    * Pure Column — the whole scrub stays inside whole-stage codegen,
    * which is what lets it run as a map-only pass over a 100 TB
    * corpus with no shuffle at all.
    */
  def piiRedact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, lit(EmailRx), lit("[EMAIL]")),
        lit(PhoneRx), lit("[PHONE]")),
      lit(Ipv4Rx), lit("[IP]"))

  /** BPE-pre-tokenizer-style token count: letter runs, digit runs and
    * individual punctuation marks each count as one token (the shape a
    * byte-pair encoder's pre-tokenizer produces, minus merges). Pure
    * Column — regexp_extract_all is codegen'd.
    */
  val BpeTokenPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeTokenPattern), lit(0)))

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
    * rolling Rabin-Karp hashes over character k-grams, then the minimum
    * hash of each sliding window of `w` consecutive k-gram hashes
    * (rightmost-min tie-break), deduplicated. Guarantees any shared
    * substring of length >= w + k - 1 yields a shared fingerprint —
    * the plagiarism-detector fingerprint set.
    */
  def winnowingFingerprints(k: Int = 5, w: Int = 4) = udf { (text: String) =>
    if (text == null) Array.empty[Long]
    else {
      val s = text.toLowerCase
      val n = s.length - k + 1
      if (n <= 0) Array.empty[Long]
      else {
        val B = 257L
        val M = 1000000007L
        var pow = 1L
        (1 until k).foreach(_ => pow = pow * B % M)
        val hashes = new Array[Long](n)
        var h = 0L
        (0 until k).foreach(i => h = (h * B + s.charAt(i)) % M)
        hashes(0) = h
        var i = 1
        while (i < n) {
          h = ((h - s.charAt(i - 1) * pow % M + M * M) % M * B + s.charAt(i + k - 1)) % M
          hashes(i) = h
          i += 1
        }
        if (n <= w) Array(hashes.min)
        else {
          val out = scala.collection.mutable.LinkedHashSet.empty[Long]
          var j = 0
          while (j + w <= n) {
            var mi = j
            var x = j + 1
            while (x < j + w) { if (hashes(x) <= hashes(mi)) mi = x; x += 1 }
            out += hashes(mi)
            j += 1
          }
          out.toArray
        }
      }
    }
  }

  /** Canonical-form document fingerprint: lowercase, strip
    * non-alphanumerics (keeping spaces), collapse whitespace, md5.
    * Exact-dedup key robust to casing/punctuation noise.
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " ")))

  /** Widened to the package so driver-side generators ([[graft.Fixtures]],
    * the Verify canary) share the one scrambler instead of keeping a
    * copy whose constants could silently drift; spec copies stay
    * independent on purpose. */
  private[graft] def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Deterministic sampling bucket: splitmix64 of a 64-bit id, reduced
    * mod `buckets` (non-negative). The pipeline's reproducible-sampling
    * primitive: a row's fate is a pure function of its id — stable
    * across runs, partitionings and cluster sizes, unlike
    * `rand()`-based sampling whose outcome depends on RNG/partition
    * state. Replayed bit-exactly by the DuckDB oracle's HUGEINT
    * splitmix (OracleHashSql.smix).
    */
  def samplingBucket(buckets: Int) = udf { (id: Long) =>
    val m = splitmix64(id) % buckets
    if (m < 0) m + buckets else m
  }

  /** [[samplingBucket]] with a per-row modulus: floorMod(splitmix64(id),
    * nb) for a column-supplied block count. The sub-blocking primitive
    * for bounding per-key join expansion (e.g.
    * [[graft.pipeline.TrainingOps.semDedup]]'s oversized-cluster
    * split) — deterministic in the id, replayed bit-exactly by the
    * DuckDB oracle's HUGEINT splitmix. Null id or nb yields a null
    * block; nb must be >= 1. `pmod` over the codegen'd
    * [[graft.expressions.SplitMix64]] is bit-identical to
    * `Math.floorMod` for positive moduli and, unlike the Scala UDF
    * this replaced, stays inside the whole-stage-codegen span with no
    * per-row boxing — semDedup's block assignment runs once per
    * corpus row, the regime the expression exists for.
    */
  def subBlock(id: Column, nb: Column): Column =
    pmod(graft.expressions.SplitMix64(id), nb)

  /** Content-defined chunk stats (FastCDC's boundary idea at token
    * granularity): a chunk CLOSES after any token whose splitmix64
    * char-fold has its low 4 bits zero (expected chunk length 16
    * tokens). Boundaries depend only on local token content — never on
    * position — which is the property that makes the chunking
    * shift-robust (an inserted sentence re-chunks only its own
    * neighborhood, so downstream chunk-level dedup still matches
    * everything else) and embarrassingly parallel. The last token
    * never opens a new chunk. Returns [n_tokens, n_chunks]; the token
    * hash is byte-identical to [[simhash64]]'s (same seed, same fold),
    * so the DuckDB oracle reuses the same charFold SQL.
    */
  def cdcChunkStats(boundaryMask: Long = 15L) = udf { (text: String) =>
    if (text == null) null
    else {
      val toks = text.trim.split(" +")
      var breaks = 0
      var i = 0
      while (i < toks.length - 1) {
        val t = toks(i)
        var h = 1125899906842597L
        var j = 0
        while (j < t.length) { h = splitmix64(h ^ t.charAt(j).toLong); j += 1 }
        if ((h & boundaryMask) == 0L) breaks += 1
        i += 1
      }
      Array(toks.length.toLong, breaks + 1L)
    }
  }

  /** 64-bit SimHash over whitespace tokens: per token a 64-bit hash,
    * each bit position votes +1/-1, final bit = sign of the vote sum.
    * One pass per document inside a single UDF — no explode, no
    * shuffle; the sketch is embarrassingly parallel (the banded
    * candidate join in [[graft.dedup.Dedup.simhashNearDups]] is the
    * only shuffle of the pipeline).
    * Input: df with (idCol, textCol); output: (idCol, simhash LONG).
    */
  def simhash64(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val simUdf = udf { (text: String) =>
      // empty-token guard ("".split yields one empty string): an
      // empty/whitespace-only document has NO tokens and thus no
      // sketch — null, like a null document. Hashing the zero-char
      // fold (h = seed) would mint a phantom simhash the DuckDB
      // oracle's `length(tok) > 0` filter never sees; matches
      // Embedder.embed's nonEmpty filter.
      val toks = if (text == null) Array.empty[String]
                 else text.trim.split(" +").filter(_.nonEmpty)
      if (toks.isEmpty) null.asInstanceOf[java.lang.Long]
      else {
        val votes = new Array[Int](64)
        toks.foreach { tok =>
          var h = 1125899906842597L
          var i = 0
          while (i < tok.length) { h = splitmix64(h ^ tok.charAt(i).toLong); i += 1 }
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
        var out = 0L
        var b = 0
        while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
        java.lang.Long.valueOf(out)
      }
    }
    df.select(col(idCol), simUdf(col(textCol)).as("simhash"))
  }
}
