package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  * All queries take `sfDir` (e.g. /root/testdata/sf0.01) and read one
  * parquet file per table.
  *
  * Each table is a session artifact ([[Artifacts.frame]]): the first
  * load in a session × sfDir scans the parquet file once into Spark's
  * storage cache, and every later query plans over the cached relation
  * as its leaf and reads columnar memory. This is the in-memory
  * operating point of the reference (whose whole corpus lives in
  * process memory). A lost block recomputes from the parquet scan.
  * Because the CacheManager substitutes the cached relation for any
  * matching plan fragment, a `spark.read.parquet` of the same path is
  * served from memory too, and `PushedFilters` never appear on it.
  */
object Tables {

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Artifacts.frame(spark, sfDir, name)(
      normalizeNtz(spark.read.parquet(s"$sfDir/$name.parquet")))

  /** The generator's timestamp encoding has flipped between rounds
    * (TIMESTAMP(NANOS) → TIMESTAMP(MICROS, isAdjustedToUTC=0)); the
    * round-9 regression was events-only, but orders.o_orderdate and
    * lineitem.l_shipdate carry the same encoding and would break the
    * same way. Normalize every NTZ column to session-TZ TimestampType
    * at the one load chokepoint — the session TZ is pinned UTC, so the
    * wall-clock values (and the DuckDB oracle hashes) are unchanged.
    */
  private def normalizeNtz(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.schema.fields.collect { case f if f.dataType == TimestampNTZType => f.name }
      .foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(TimestampType)))
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  /** events.parquet's `ts` encoding has varied across generator runs:
    * TIMESTAMP(NANOS) (no native Spark type — read as raw nanos under
    * the legacy conf and convert; the values are micro-precision so
    * DIV 1000 is lossless) and TIMESTAMP(MICROS, isAdjustedToUTC=0)
    * (read as TIMESTAMP_NTZ, normalized by [[load]]). Downstream code
    * may assume `ts` is TimestampType.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case _ => df
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
