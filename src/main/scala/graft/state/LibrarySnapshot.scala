package graft.state

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** One library's embedded chunks (non-null embedding) as of ONE
  * [[EngineState]]: the reported version, the rows a search scores and
  * the corpus dim all come from the same snapshot, so a write landing
  * mid-request can never pair a pre-write version with post-write rows.
  *
  * `frame` is built from the snapshot's own [[ChunkRow]]s — an RDD over
  * the resident rows (plus the live archived segments when the store
  * has spilled), never a `LocalRelation` copy of the whole store — so
  * it can be cached once per (library, incarnation, version) and every
  * later plan over it starts from an `InMemoryRelation`. Frame order is
  * archived rows first, then resident rows in store order (the order
  * [[Engine.chunksDF]] serves).
  *
  * The resident rows reach the executors once, as one broadcast per
  * snapshot: a partition of the frame is a slice index, and its task
  * reads that slice from the broadcast. A task of any plan over the
  * frame (or a frame derived from it) so carries no rows, whereas a
  * `parallelize(rows)` partition would carry, and make every task
  * deserialize, its slice of the store even when the task only reads
  * cached blocks. The broadcast is never destroyed here: a frame
  * evicted from a cache while a request still scans it recomputes from
  * it, and Spark's `ContextCleaner` releases it once no frame
  * references it.
  */
final class LibrarySnapshot private (val library: LibraryRow, val frame: DataFrame,
                                     resident: Vector[ChunkRow], spilled: Boolean) {

  def version: Int = library.version

  /** The embedding dim of the first row (frame order) matching
    * `filters`, or None when no row matches. Answered on the driver from
    * the resident rows; only a spilled store, whose archived rows come
    * first in frame order and live in parquet, runs a job for it. */
  def firstDim(filters: Map[String, String]): Option[Int] =
    if (spilled)
      LibrarySnapshot.where(frame, filters).select(col("embedding")).limit(1).collect()
        .headOption.map(_.getSeq[Float](0).length)
    else
      resident.iterator
        .find(c => filters.forall { case (k, v) => c.metadata.get(k).contains(v) })
        .map(_.embedding.get.length)
}

object LibrarySnapshot {

  /** `df` (a snapshot frame or a frame derived from it) under a
    * conjunctive exact-match metadata filter (a missing key never
    * matches, search_service.py:75); [[LibrarySnapshot.firstDim]]
    * applies the same predicate on the driver. */
  def where(df: DataFrame, filters: Map[String, String]): DataFrame =
    filters.foldLeft(df) { case (acc, (key, value)) =>
      acc.where(col("metadata").getItem(key) === lit(value))
    }

  /** Build `libraryId`'s snapshot from `s`; NotFoundError when the
    * library does not exist in it. Nothing runs: the frame is a plan. */
  def apply(spark: SparkSession, s: EngineState, libraryId: String): LibrarySnapshot = {
    import spark.implicits._
    val lib = s.library(libraryId)
    val rows = s.chunks.filter(c => c.library_id == libraryId && c.embedding.isDefined)
    // one slice per row up to the session's parallelism: Spark's own
    // split for a local table scan
    val slices = math.min(math.max(rows.size, 1), spark.sparkContext.defaultParallelism)
    val resident = org.apache.spark.sql.graft.SqlShims.sizedFrame(
      spark.createDataset(broadcastSlices(spark.sparkContext, rows, slices)).toDF(),
      rows.size.toLong)
    val frame = Engine.liveArchived(spark, s).map(
      _.where(col("library_id") === libraryId && col("embedding").isNotNull)
        .unionByName(resident)).getOrElse(resident)
    new LibrarySnapshot(lib, frame, rows, spilled = s.spillSegments.nonEmpty)
  }

  /** `rows` in `slices` partitions, split where `parallelize(rows,
    * slices)` splits them, but shipped as one broadcast: partition `i`
    * is the index `i`, and its task reads rows `[i·n/slices,
    * (i+1)·n/slices)` from the broadcast. The broadcast holds an array,
    * not the `Vector`: Spark sizes a broadcast value by walking it, and
    * it samples a large array but walks every row of a `Vector`'s
    * 32-element leaves (at 8,000 chunks on 4 cpus, a broadcast of the
    * `Vector` took 140-190 ms, of the array 55-70 ms). */
  private def broadcastSlices(sc: SparkContext, rows: Vector[ChunkRow],
                              slices: Int): RDD[ChunkRow] = {
    val shipped = sc.broadcast(rows.toArray)
    val n = rows.size.toLong
    sc.parallelize(0 until slices, slices).flatMap { i =>
      shipped.value.iterator.slice((i * n / slices).toInt, ((i + 1) * n / slices).toInt)
    }
  }
}
