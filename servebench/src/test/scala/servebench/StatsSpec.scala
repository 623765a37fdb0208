package servebench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail percentile is the highest with ten samples beyond it") {
    assert(Stats.tailPercentile(9).isEmpty)
    assert(Stats.tailPercentile(20).contains(0.5))
    assert(Stats.tailPercentile(39).contains(0.5))
    assert(Stats.tailPercentile(40).contains(0.75))
    assert(Stats.tailPercentile(99).contains(0.75))
    assert(Stats.tailPercentile(100).contains(0.9))
    assert(Stats.tailPercentile(200).contains(0.95))
    assert(Stats.tailPercentile(1000).contains(0.99))
    assert(Stats.tailPercentile(10000).contains(0.999))
  }

  test("percentiles take the nearest rank; the median averages an even middle") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(xs.reverse, 0.5) == 50.0)
    assert(Stats.percentile(Seq(7.0), 0.99) == 7.0)
    assert(Stats.percentile(Nil, 0.9) == 0.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("exact top-k orders by cosine, ties by id, and ignores vector length") {
    val q = Array(1f, 0f)
    val rows = Seq("d" -> Array(0f, 1f), "b" -> Array(2f, 0f), "a" -> Array(1f, 0f),
      "c" -> Array(1f, 1f), "e" -> Array(-1f, 0f))
    val top = Stats.topK(q, rows.iterator, 3)
    assert(top.map(_._1) == Seq("a", "b", "c"))
    assert(math.abs(top(2)._2 - math.sqrt(0.5)) < 1e-12)
    assert(Stats.topK(q, rows.iterator, 10).map(_._1) == Seq("a", "b", "c", "d", "e"))
  }

  test("recall is the share of the exact top-k that was returned") {
    assert(Stats.recall(Seq("a", "b", "x", "y", "z"), Seq("a", "b", "c", "d", "e")) == 0.4)
    assert(Stats.recall(Seq("e", "d", "c", "b", "a"), Seq("a", "b", "c", "d", "e")) == 1.0)
    assert(Stats.recall(Nil, Seq("a")) == 0.0)
    assert(Stats.recall(Nil, Nil) == 1.0)
  }

  test("self time subtracts the union of the children, clipped to the span") {
    assert(Stats.selfTime((0L, 100L), Nil) == 100L)
    assert(Stats.selfTime((0L, 100L), Seq((10L, 30L), (20L, 40L), (50L, 60L))) == 60L)
    assert(Stats.selfTime((0L, 100L), Seq((-10L, 10L), (90L, 200L))) == 80L)
    assert(Stats.selfTime((0L, 100L), Seq((0L, 100L), (30L, 40L))) == 0L)
    assert(Stats.unionLength(Seq((5L, 5L), (1L, 3L), (2L, 4L))) == 3L)
  }
}
