package graft

/** Time one named query (cold + warm) for local optimization work.
  * Usage: runMain graft.BenchOne <queryName> [sfDir] [explain]
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    // the suite's core count, so Bench's fresh-JVM fork measures a
    // suspect at the operating point the suite flagged it at
    val spark = LocalSpark.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    name.split(",").foreach { q =>
      // an UNKNOWN gate still dies before any verdict line (a config
      // error is a fork-launch failure, not a query death)
      val fn = Queries.all(q)
      if (args.contains("explain")) fn(spark, sfDir).explain("formatted")
      val times = (1 to 3).map { i =>
        // mirror Bench: scratch release outside the timed window
        graft.dedup.Dedup.releaseScratch(spark)
        val t0 = System.nanoTime()
        // a run that DIES prints -1.0 instead of crashing the JVM, so
        // the forked adjudication can tell "query died fresh" (parsed
        // negative median → died_fresh, flagged) from "fork never
        // launched" (no verdict line → in-session verdict stands) —
        // r14 ADVICE: without this catch the two signals conflate
        try {
          val n = fn(spark, sfDir).count()
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"RUN$i $q rows=$n time=$sec%.2f s")
          sec
        } catch {
          case e: Throwable =>
            println(s"RUN$i $q FAILED ${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").take(200))
            -1.0
        }
      }
      // machine-parseable verdict line — [[Bench]]'s forked fresh-JVM
      // adjudication greps for it; median of 3 absorbs this JVM's one
      // cold (JIT/page-cache) run. ANY failed run poisons the median
      // to the -1.0 death sentinel: a gate that dies fresh must flag,
      // never average its way past the adjudicator.
      val med = if (times.exists(_ < 0)) -1.0 else times.sorted.apply(1)
      println(f"BENCHONE_MEDIAN $q $med%.4f")
    }
    spark.stop()
  }
}
