package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One (query, candidate) score pair emitted during evaluation. */
final case class QScore(qid: Long, score: Double)

/** Distributed recall@k evaluation of the ANN backends against exact
  * brute force — the measurement harness behind index tuning ("a
  * correct-but-low-recall index is not done" any more than a slow one).
  *
  * Shape: ONE pass over the corpus per method. The query sample
  * (typically tens of vectors) is broadcast; each row emits its score
  * against every query (ground truth) or against the queries whose
  * candidate set it belongs to (LSH buckets / IVF probe lists); a
  * window per query takes top-k; recall = |method ∩ truth| / k averaged
  * over queries. Corpus size scales the scan, not the shuffle (≤ k rows
  * per query per partition reach the window).
  *
  * The measured operating points this harness produced — the random and
  * clustered recall tables and the corpus-shape × constraint decision
  * table (which index, which params, at what scan budget) — live in
  * README § "ANN operating points"; the sweep main that printed them is
  * `git show a10423e:src/main/scala/graft/LshSweep.scala`.
  */
object AnnEval {

  private def cosArr(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def topkPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id").asc)
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select(col("qid"), col("id"))
  }

  /** Exact top-k per query: every row scores against every query. */
  def groundTruth(emb: DataFrame, idCol: String, embCol: String,
                  queries: Array[(Long, Array[Float])], k: Int): DataFrame = {
    val scoreAll = udf { (v: collection.Seq[Float]) =>
      val va = graft.functions.VectorFunctions.toArr(v) // once, not per query
      queries.map { case (qid, qv) => QScore(qid, cosArr(va, qv)) }
    }
    topkPerQuery(
      emb.where(col(embCol).isNotNull)
        .select(col(idCol).cast("long").as("id"), explode(scoreAll(col(embCol))).as("qs"))
        .select(col("id"), col("qs.qid").as("qid"), col("qs.score").as("score")), k)
  }

  /** Per-query LSH bucket signatures (float-normalize, then hash each
    * table's planes) — shared by the multi-pass and single-pass paths
    * so their candidate predicates cannot drift apart. */
  private def queryBuckets(queries: Array[(Long, Array[Float])],
                           lsh: RandomHyperplaneLsh,
                           ps: Array[Array[Array[Float]]]): Array[(Long, Array[Float], Array[Int])] =
    queries.map { case (qid, qv) =>
      val qn = graft.functions.VectorFunctions.l2NormalizeArr(qv)
      (qid, qv, ps.map(tp => lsh.hash(qn.toSeq, tp)))
    }

  /** Row-side bucket signature: float-normalize (zero vector kept),
    * then hash every table's planes — MUST stay bit-identical to the
    * served index path (withBuckets ∘ l2Normalize / candidateMatch);
    * shared by the multi-pass and single-pass evaluator UDFs. */
  private def rowBuckets(v: collection.Seq[Float], lsh: RandomHyperplaneLsh,
                         ps: Array[Array[Array[Float]]]): Array[Int] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    val vn: collection.Seq[Float] =
      if (n == 0.0) v else v.map(x => (x.toDouble / n).toFloat)
    ps.map(tp => lsh.hash(vn, tp))
  }

  /** Per-query IVF probe lists: the nprobe clusters nearest each
    * query, via the same [[IvfKnn.rankClusters]] the served indexes
    * use — the evaluator's probe choice cannot drift from theirs. */
  private def probeSets(queries: Array[(Long, Array[Float])],
                        cents: Array[(Long, Array[Float])], nprobe: Int): Map[Long, Set[Long]] =
    queries.map { case (qid, qv) =>
      qid -> IvfKnn.rankClusters(qv, cents).take(nprobe).map(_._1).toSet
    }.toMap

  /** The cluster a row belongs to — None when there are no centroids
    * (a stride that samples nothing must mean "no IVF candidates",
    * not an executor crash). */
  private def nearestCentroid(v0: collection.Seq[Float],
                              cents: Array[(Long, Array[Float])]): Option[Long] =
    if (cents.isEmpty) None
    else {
      val v = graft.functions.VectorFunctions.toArr(v0) // once, not per centroid
      var best = 0; var bestScore = Double.NegativeInfinity
      var c = 0
      while (c < cents.length) {
        val s = cosArr(v, cents(c)._2)
        if (s > bestScore) { bestScore = s; best = c }
        c += 1
      }
      Some(cents(best)._1)
    }

  /** LSH top-k per query: rows score only against queries sharing a
    * bucket in some table (within `maxHamming` bit flips — 0 = exact
    * bucket, 1 = single-probe expansion). */
  def lshTopK(emb: DataFrame, idCol: String, embCol: String,
              queries: Array[(Long, Array[Float])], k: Int,
              lsh: RandomHyperplaneLsh, dim: Int, maxHamming: Int = 0): DataFrame = {
    val ps = lsh.planes(dim)
    val qBuckets = queryBuckets(queries, lsh, ps)
    val candScores = udf { (v: collection.Seq[Float]) =>
      if (v == null) Array.empty[QScore]
      else {
        val va = graft.functions.VectorFunctions.toArr(v)
        val rb = rowBuckets(v, lsh, ps)
        qBuckets.collect {
          case (qid, qv, qb) if qb.indices.exists(t =>
              Integer.bitCount(qb(t) ^ rb(t)) <= maxHamming) =>
            QScore(qid, cosArr(va, qv))
        }
      }
    }
    topkPerQuery(
      emb.where(col(embCol).isNotNull)
        .select(col(idCol).cast("long").as("id"), explode(candScores(col(embCol))).as("qs"))
        .select(col("id"), col("qs.qid").as("qid"), col("qs.score").as("score")), k)
  }

  /** IVF top-k per query: rows score only against queries probing the
    * row's cluster. */
  def ivfTopK(emb: DataFrame, idCol: String, embCol: String,
              queries: Array[(Long, Array[Float])], k: Int,
              stride: Long, nprobe: Int): DataFrame =
    ivfTopK(emb, idCol, embCol, queries, k,
      IvfKnn.centroids(emb, col(idCol), col(embCol), stride), nprobe)

  /** Overload taking precomputed centroids — a sweep over nprobe values
    * must not pay the centroid-sampling collect once per grid point. */
  def ivfTopK(emb: DataFrame, idCol: String, embCol: String,
              queries: Array[(Long, Array[Float])], k: Int,
              cents: Array[(Long, Array[Float])], nprobe: Int): DataFrame = {
    val probes = probeSets(queries, cents, nprobe)
    val candScores = udf { (v: collection.Seq[Float]) =>
      if (v == null) Array.empty[QScore]
      else nearestCentroid(v, cents) match {
        case None => Array.empty[QScore]
        case Some(cluster) =>
          val va = graft.functions.VectorFunctions.toArr(v)
          queries.collect {
            case (qid, qv) if probes(qid).contains(cluster) => QScore(qid, cosArr(va, qv))
          }
      }
    }
    topkPerQuery(
      emb.where(col(embCol).isNotNull)
        .select(col(idCol).cast("long").as("id"), explode(candScores(col(embCol))).as("qs"))
        .select(col("id"), col("qs.qid").as("qid"), col("qs.score").as("score")), k)
  }

  /** One (method, query, candidate) score emitted by the single-pass
    * evaluator. */
  final case class MQScore(method: String, qid: Long, score: Double)

  /** Single-pass recall@k of LSH (exact-bucket and 1-bit multi-probe)
    * and IVF against exact brute force: ONE scan of the corpus emits,
    * per row, its score against every query for ground truth plus its
    * score for each method whose candidate set it falls in; ONE window
    * over (method, qid) takes top-k; methods join truth's top-k and
    * aggregate to recall. Identical recall values to running
    * [[groundTruth]]/[[lshTopK]]/[[ivfTopK]] + [[recallReport]]
    * separately (same scores, same `score desc, id asc` tie order) at a
    * quarter of the corpus passes and a single shuffle-heavy stage —
    * the shape that matters when the corpus is 100 TB and the scan IS
    * the cost.
    */
  def recallSinglePass(emb: DataFrame, idCol: String, embCol: String,
                       queries: Array[(Long, Array[Float])], k: Int,
                       lsh: RandomHyperplaneLsh, dim: Int, mpMaxHamming: Int,
                       stride: Long, nprobe: Int,
                       pq: Option[PqKnn.Codebooks] = None,
                       sq: Option[Array[Double]] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val ps = lsh.planes(dim)
    val qBuckets = queryBuckets(queries, lsh, ps)
    val cents = IvfKnn.centroids(emb, col(idCol), col(embCol), stride)
    val probes = probeSets(queries, cents, nprobe)
    // PQ rates every row per query, but by its ADC score (the rank
    // quality of the compressed codes, not candidate pruning)
    val qAdc: Map[Long, Array[Array[Double]]] = pq match {
      case Some(cb) => queries.map { case (qid, qv) => qid -> PqKnn.adcTable(qv, cb) }.toMap
      case None => Map.empty
    }
    // SQ8 rates every row by its quantized dot (scales folded into
    // each normalized query driver-side, as in SqKnn.searchEncoded)
    val qSqScaled: Map[Long, Array[Double]] = sq match {
      case Some(scales) => queries.map { case (qid, qv) =>
        val qn = graft.functions.VectorFunctions.l2NormalizeArr(qv)
        qid -> Array.tabulate(math.min(qn.length, scales.length))(d => qn(d) * scales(d))
      }.toMap
      case None => Map.empty
    }
    val allScores = udf { (v: collection.Seq[Float]) =>
      if (v == null) Array.empty[MQScore]
      else {
        val va = graft.functions.VectorFunctions.toArr(v)
        val rb = rowBuckets(v, lsh, ps)
        val cluster = nearestCentroid(v, cents)
        val code = pq.map(cb => PqKnn.encodeVec(v, cb))
        val sqCode = sq.map(scales => SqKnn.encodeVecWithScales(va, scales))
        qBuckets.flatMap { case (qid, qv, qb) =>
          val score = cosArr(va, qv)
          val out = scala.collection.mutable.ArrayBuffer(MQScore("truth", qid, score))
          if (qb.indices.exists(t => qb(t) == rb(t)))
            out += MQScore("lsh", qid, score)
          if (qb.indices.exists(t =>
              Integer.bitCount(qb(t) ^ rb(t)) <= mpMaxHamming))
            out += MQScore("lsh_mp", qid, score)
          if (cluster.exists(probes(qid).contains))
            out += MQScore("ivf", qid, score)
          code.foreach(cd => out += MQScore("pq", qid, PqKnn.adcScore(cd, qAdc(qid))))
          sqCode.foreach { cd =>
            val qs = qSqScaled(qid)
            var acc = 0.0; var d = 0
            val nd = math.min(cd.length, qs.length)
            while (d < nd) { acc += cd(d) * qs(d); d += 1 }
            out += MQScore("sq", qid, acc)
          }
          out
        }
      }
    }
    val w = Window.partitionBy(col("method"), col("qid"))
      .orderBy(col("score").desc, col("id").asc)
    val topk = emb.where(col(embCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), explode(allScores(col(embCol))).as("mqs"))
      .select(col("id"), col("mqs.method").as("method"), col("mqs.qid").as("qid"),
        col("mqs.score").as("score"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select(col("method"), col("qid"), col("id"))
    val truth = topk.where(col("method") === "truth").select(col("qid"), col("id"))
    val perQuery = topk.where(col("method") =!= "truth")
      .join(truth, Seq("qid", "id"))
      .groupBy(col("method"), col("qid"))
      .agg((count(lit(1)).cast("double") / k).as("recall"))
    // the (method × query) grid is known up front — build it locally
    // instead of a distinct + crossJoin over the truth table
    val grid = (for {
      m <- Seq("lsh", "lsh_mp", "ivf") ++ (if (pq.isDefined) Seq("pq") else Nil) ++
        (if (sq.isDefined) Seq("sq") else Nil)
      (qid, _) <- queries
    } yield (m, qid)).toDF("method", "qid")
    grid.join(perQuery, Seq("method", "qid"), "left")
      .na.fill(0.0, Seq("recall"))
      .groupBy(col("method"))
      .agg(count(lit(1)).as("n_queries"),
        round(avg(col("recall")), 4).as("avg_recall"),
        round(min(col("recall")), 4).as("min_recall"))
      .select(col("method"), lit(k).as("k"), col("n_queries"),
        col("avg_recall"), col("min_recall"))
  }

  /** recall@k per method vs ground truth: (method, k, n_queries,
    * avg_recall, min_recall). ONE distributed aggregation for every
    * method at once (union-tagged join against truth), not a
    * collect-per-method loop: the (method × query) grid left-join keeps
    * zero-overlap queries in the average as 0.
    */
  def recallReport(spark: SparkSession, truth: DataFrame,
                   methods: Seq[(String, DataFrame)], k: Int): DataFrame = {
    import spark.implicits._
    val tagged = methods.map { case (name, df) =>
      df.select(col("qid"), col("id")).withColumn("method", lit(name))
    }.reduce(_ unionByName _)
    val perQuery = truth.select(col("qid"), col("id")).join(tagged, Seq("qid", "id"))
      .groupBy(col("method"), col("qid"))
      .agg((count(lit(1)).cast("double") / k).as("recall"))
    val grid = truth.select(col("qid")).distinct()
      .crossJoin(methods.map(_._1).toDF("method"))
    grid.join(perQuery, Seq("method", "qid"), "left")
      .na.fill(0.0, Seq("recall"))
      .groupBy(col("method"))
      .agg(count(lit(1)).as("n_queries"),
        round(avg(col("recall")), 4).as("avg_recall"),
        round(min(col("recall")), 4).as("min_recall"))
      .select(col("method"), lit(k).as("k"), col("n_queries"),
        col("avg_recall"), col("min_recall"))
  }
}
