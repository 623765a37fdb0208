package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Int8 scalar quantization (SQ8) — the middle point of the
  * compression spectrum this engine serves: float32 (256 B/vector,
  * exact brute force) → SQ8 (64 B, near-exact) → PQ (8 B, approximate,
  * [[PqKnn]]). FAISS's `SQ8`: per-dimension symmetric scales, one byte
  * per component.
  *
  *  - TRAIN: per-dimension max |x| over the (normalized) corpus — one
  *    distributed aggregation, 64 doubles on the driver;
  *  - ENCODE: byte(d) = round(x_d / scale_d), clamped to ±127 — one
  *    UDF pass, 4× smaller than the float column;
  *  - SCORE: dot(query, reconstruction) = Σ q_d·code_d·scale_d; the
  *    scales fold into the query ONCE driver-side, so the scan does
  *    one byte·double multiply-add per dimension.
  *
  * Corpus vectors are L2-normalized before quantization and the query
  * before scoring, so the score approximates cosine with ≤ 1/254
  * per-component error — ranking is near-exact (asserted ≥ 0.9
  * recall@10 in SqKnnSpec).
  */
object SqKnn {

  private def normalize(v: Array[Float]): Array[Float] =
    graft.functions.VectorFunctions.l2NormalizeArr(v)

  /** Per-dimension scales: max |normalized component| / 127, from one
    * distributed aggregation (no collect of the corpus; the vector is
    * normalized ONCE per row in a projection, then 64 max(abs(...))
    * aggregates read components of that one column). A dimension that
    * is 0 everywhere gets scale 0 and decodes to exact 0. Requires
    * every embedding to have exactly `dim` components (ANSI
    * element_at). Fails with a clear error on an empty corpus.
    */
  def trainScales(emb: DataFrame, embCol: Column, dim: Int): Array[Double] = {
    val unit = emb.where(embCol.isNotNull)
      .select(graft.functions.VectorFunctions.l2Normalize(embCol).as("u"))
    val maxAbs = (1 to dim).map(d => max(abs(element_at(col("u"), d))).as(s"m$d"))
    val row = unit.agg(maxAbs.head, maxAbs.tail: _*).head()
    require(!row.isNullAt(0),
      "SqKnn.trainScales: no non-null embeddings to train on")
    Array.tabulate(dim)(d => row.getAs[Float](d).toDouble / 127.0)
  }

  /** Encode one raw vector (normalize, then per-dim round/clamp). */
  def encodeVecWithScales(v0: Array[Float], scales: Array[Double]): Array[Byte] = {
    val v = normalize(v0)
    Array.tabulate(v.length) { d =>
      if (d >= scales.length || scales(d) == 0.0) 0.toByte
      else {
        val q = math.rint(v(d) / scales(d))
        math.max(-127, math.min(127, q)).toByte
      }
    }
  }

  /** One UDF pass → (id, code BINARY[dim]). */
  def encode(emb: DataFrame, idCol: Column, embCol: Column, scales: Array[Double]): DataFrame = {
    val codeUdf = udf { (v0: collection.Seq[Float]) =>
      if (v0 == null) null
      else encodeVecWithScales(graft.functions.VectorFunctions.toArr(v0), scales)
    }
    emb.where(embCol.isNotNull)
      .select(idCol.cast("long").as("id"), codeUdf(embCol).as("code"))
  }

  /** Per-query SQ8 lookup table in [[graft.expressions.AdcScore]]'s
    * shape — lut(d)(b) = sbyte(b) · qn(d) · scale(d), 256 entries per
    * dimension — which makes SQ8 scoring EXPRESSIBLE AS PQ's ADC
    * expression with no new codegen: `AdcScore` indexes `lut(d)(code(d)
    * & 0xFF)`, and building the table over the two's-complement byte
    * value (128..255 ⇒ −128..−1) recovers the signed multiply
    * `code(d) * qScaled(d)` bit-for-bit ([[searchEncoded]]'s
    * accumulation, same order, same doubles — a LUT entry is the
    * IDENTICAL `Byte * Double` product, precomputed). 64 dims × 256
    * doubles = 128 KB riding the codegen references array once per
    * task. This is what lets [[graft.plans.LshProbeRewrite]] serve a
    * registered SQ8 table through the same staged scoring rewrite as
    * PQ — the scoring KIND machinery is shared; only the table builder
    * differs. */
  def adcTable(query: Array[Float], scales: Array[Double]): Array[Array[Double]] = {
    val qn = normalize(query)
    val n = math.min(qn.length, scales.length)
    Array.tabulate(n) { d =>
      val qScaled = qn(d).toDouble * scales(d)
      Array.tabulate(256)(b => b.toByte * qScaled)
    }
  }

  /** Top-k by quantized dot: scales fold into the (normalized) query
    * driver-side; the scan multiplies bytes by prescaled doubles. */
  def searchEncoded(codes: DataFrame, query: Array[Float], scales: Array[Double],
                    k: Int): DataFrame = {
    val qn = normalize(query)
    val qScaled =
      Array.tabulate(math.min(qn.length, scales.length))(d => qn(d).toDouble * scales(d))
    val scoreUdf = udf { (code: Array[Byte]) =>
      var acc = 0.0; var d = 0
      val n = math.min(code.length, qScaled.length)
      while (d < n) { acc += code(d) * qScaled(d); d += 1 }
      acc
    }
    codes.select(col("id"), scoreUdf(col("code")).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** Transient end-to-end: train → encode → top-k. */
  def search(emb: DataFrame, idCol: Column, embCol: Column, query: Array[Float],
             k: Int, dim: Int): DataFrame = {
    val scales = trainScales(emb, embCol, dim)
    searchEncoded(encode(emb, idCol, embCol, scales), query, scales, k)
  }

  /** BATCHED SQ8 serving over a fused (id, embedding, code) layout
    * (r16 — the PQ batched serve's SQ8 twin, closing another "no
    * batched serve (yet)" kind): one codes-width scan of the layout
    * answers the whole request set. SQ8's per-request "LUT" is just
    * the scale-folded normalized request — a dim-long double vector
    * computed with BUILT-IN columns (`zip_with` over the normalized
    * embedding and the scales literal; bit-identical to
    * [[adcTable]]'s `qn(d) * scale(d)` fold) — and the per-pair work
    * is [[graft.expressions.ByteDotDyn]]'s one multiply-add per
    * dimension over i8 bytes inside whole-stage codegen. Shortlist
    * ranks under the two-phase WindowGroupLimit; the float vectors
    * are fetched ONCE for the union of shortlists through
    * [[graft.plans.ShortlistFetchJoin]] against the SAME fused layout
    * (the id-ordered write makes the point fetch row-group-skippable;
    * past the 512-point push ceiling the fetch splits into
    * ceiling-sized chunked sub-scans, so the read stays
    * shortlist-proportional — the ShortlistFetch contract); exact
    * rerank per request, self excluded, with the shortlist pairs
    * materialized ONCE feeding both fetch and rerank (one codes-width
    * scan per batch, r16 ADVICE). Output matches the other batched
    * serves: (q_id, rn, neighbor_id, cos).
    */
  def serveBatched(spark: org.apache.spark.sql.SparkSession,
                   layout: DataFrame, scales: Array[Double],
                   requests: DataFrame, idColName: String, embColName: String,
                   k: Int, candidates: Int = 100,
                   maxFetch: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graft.SqlShims.{column, expression, ofRows}
    graft.plans.LshProbeRewrite.injectStrategy(spark)
    val reqs = requests.where(col(embColName).isNotNull)
      .select(col(idColName).cast("long").as("q_id"), col(embColName).as("q_emb"))
      .withColumn("q_w", zip_with(
        graft.functions.VectorFunctions.l2Normalize(col("q_emb")),
        typedlit(scales.toSeq),
        (a, b) => a.cast("double") * b))
    val codes = layout.select(col(idColName).cast("long").as("id"), col("code"))
    val pairs = codes.join(broadcast(reqs), col("id") =!= col("q_id"))
      .withColumn("qd",
        column(graft.expressions.ByteDotDyn(expression(col("code")), expression(col("q_w")))))
      .withColumn("srn", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("qd").desc, col("id").asc)))
      .where(col("srn") <= candidates)
      .select(col("q_id"), col("q_emb"), col("id").as("sl_id"))
    // ONE codes-width scan (r16 ADVICE): the pairs materialize once
    // inside ShortlistFetchJoin, feeding both the pushed point fetch
    // and the rerank's build side; the fetch plan is pre-projected to
    // (id, embedding) so the point read never touches the code column
    val pairsPlan = pairs.queryExecution.analyzed
    val fetchPlan = layout.select(col(idColName), col(embColName))
      .queryExecution.analyzed
    val joined = ofRows(spark, graft.plans.ShortlistFetchJoin(
      pairsPlan.output.find(_.name == "sl_id").get,
      fetchPlan, idColName, maxFetch, pairsPlan))
    joined
      .withColumn("cos",
        graft.expressions.CosineSimilarity(col(embColName), col("q_emb")))
      .withColumn("rn", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col(idColName).asc)))
      .where(col("rn") <= k)
      .select(col("q_id"), col("rn"),
        col(idColName).cast("long").as("neighbor_id"), col("cos"))
  }
}
