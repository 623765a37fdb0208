package graft

/** Local smoke runner for SparkEntry.entry (the driver's t1 check). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"ENTRY_ROWS=${rows.length}")
    df.show(5, 60)
    spark.stop()
  }
}
