package servebench

/** Pure helpers behind the benchmark's numbers: percentiles, exact
  * top-k, recall and span self time. Kept free of Spark so the unit
  * tests exercise them directly. */
object Stats {

  /** Nearest-rank percentile of `xs` (p in (0, 1]); 0 for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val rank = math.ceil(p * s.size).toInt
      s(math.min(math.max(rank, 1), s.size) - 1)
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Percentiles a report may name. */
  val Reportable: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

  /** The highest reportable percentile with at least ten samples beyond
    * it among `n`, or None when even the median has fewer. */
  def tailPercentile(n: Int): Option[Double] =
    Reportable.find(p => n * (1 - p) >= 10 - 1e-9)

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Exact top-k by cosine, ties broken on id ascending (the engine's
    * own order). */
  def topK(query: Array[Float], rows: Iterator[(String, Array[Float])],
           k: Int): Seq[(String, Double)] = {
    val order = Ordering.by[(String, Double), (Double, String)](h => (-h._2, h._1))
    val heap = scala.collection.mutable.PriorityQueue.empty[(String, Double)](order)
    rows.foreach { case (id, v) =>
      heap.enqueue((id, cosine(query, v)))
      if (heap.size > k) heap.dequeue()
    }
    heap.toSeq.sorted(order)
  }

  /** |hits ∩ exact| / |exact|, the share of the true top-k returned. */
  def recall(hits: Seq[String], exact: Seq[String]): Double =
    if (exact.isEmpty) 1.0 else hits.toSet.intersect(exact.toSet).size.toDouble / exact.size

  /** Length of the union of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else curEnd = math.max(curEnd, e)
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover (children clipped to the span, overlaps counted once). */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (s, e) = span
    val clipped = children.map { case (cs, ce) => (math.max(cs, s), math.min(ce, e)) }
    (e - s) - unionLength(clipped)
  }
}
