package graft

import org.scalatest.funsuite.AnyFunSuite

/** docs/PLANS.md is diffable only if the tokens that vary between runs
  * over the same plans are masked before it is written. */
class DumpPlansSpec extends AnyFunSuite {

  test("normalize masks ids, stage ids, lambda classes, identity hashes and Queries lines") {
    val raw =
      """(3) Exchange
        |Arguments: hashpartitioning(label#2, rn#212L, 8), ENSURE_REQUIREMENTS, [plan_id=83]
        |+- *(3) Project [id#17L, score#40]
        |   +- MapElements graft.multimodal.Multimodal$$$Lambda$5918/0x00007f3a8c2d1e48@1a2b, obj#55: binary
        |      +- SerializeFromObject at Queries.scala:1234
        |Condition : isnotnull(nearest_centroid(embedding#1, [[D@3f6fa2dd, [Ljava.lang.String;@7e1f))
        |Functions [1]: [topkaggregator(graft.operators.TopKAggregator@2be89ba5, true)]
        |(8) Filter [codegen id : 4]
        |(20) TableCacheQueryStage
        |Output [2]: [doc_id#7L, text#8]
        |Arguments: 3
        |(21) BroadcastQueryStage
        |Arguments: 12
        |""".stripMargin
    assert(DumpPlans.normalize(raw) ==
      """(3) Exchange
        |Arguments: hashpartitioning(label#n, rn#nL, 8), ENSURE_REQUIREMENTS, [plan_id=n]
        |+- *(n) Project [id#nL, score#n]
        |   +- MapElements graft.multimodal.Multimodal$$$Lambda@n, obj#n: binary
        |      +- SerializeFromObject at Queries.scala:n
        |Condition : isnotnull(nearest_centroid(embedding#n, [[D@n, [Ljava.lang.String;@n))
        |Functions [1]: [topkaggregator(graft.operators.TopKAggregator@n, true)]
        |(8) Filter [codegen id : n]
        |(20) TableCacheQueryStage
        |Output [2]: [doc_id#nL, text#n]
        |Arguments: n
        |(21) BroadcastQueryStage
        |Arguments: n
        |""".stripMargin)
  }

  test("normalize leaves run-independent text alone and is idempotent") {
    val text = "## knn_brute\n\n(1) Scan parquet\nPushedFilters: [IsNotNull(label)]\n" +
      "(4) CollectLimit\nArguments: 5\nuser@example.com [1, 2]\n"
    assert(DumpPlans.normalize(text) == text)
    val once = DumpPlans.normalize("a#1 b#22L [plan_id=7] *(4)")
    assert(DumpPlans.normalize(once) == once)
  }

  test("normalize masks a broadcast stage's size, which follows the driver heap, and keeps its rowCount") {
    def stage(size: String) =
      s"""   :     +- BroadcastQueryStage (29), Statistics(sizeInBytes=$size, rowCount=31)
         |   +- ShuffleQueryStage (26), Statistics(sizeInBytes=362.1 KiB, rowCount=250)
         |""".stripMargin
    val at4g = DumpPlans.normalize(stage("16.0 MiB"))
    assert(at4g == DumpPlans.normalize(stage("32.0 MiB")))
    assert(at4g ==
      """   :     +- BroadcastQueryStage (29), Statistics(sizeInBytes=n, rowCount=31)
        |   +- ShuffleQueryStage (26), Statistics(sizeInBytes=362.1 KiB, rowCount=250)
        |""".stripMargin)
  }
}
