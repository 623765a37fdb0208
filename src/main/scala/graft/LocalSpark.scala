package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the runnable mains: a local session on
  * `cpus` cores with the conf every spec also runs under (UTC session
  * time zone, nanosecond parquet timestamps read as longs, adaptive
  * execution, no UI). Callers add what only they need, such as
  * `.withExtensions`, before `getOrCreate()`.
  */
object LocalSpark {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
}
