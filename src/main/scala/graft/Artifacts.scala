package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.SqlShims

/** The session's derived inputs: each is built once per (session,
  * scope, name) and reused by every later query of the session. The
  * scope is the dataset directory (`sfDir`) or a layout path. A session
  * reuses its inputs (tables, trained models, layouts, staged replay
  * files), never its results: every query still computes its answer
  * from them.
  *
  * Entries of a stopped session are swept on every lookup. Weak keying
  * cannot release them: a cached DataFrame references its session
  * through its QueryExecution, and a weak map entry whose value
  * references its key is never collected.
  */
object Artifacts {

  private val store =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), Any]

  /** A model, a layout path or a service, kept as `build` returns it. */
  def value[V](spark: SparkSession, scope: String, name: String)(build: => V): V = {
    store.filterInPlace { case ((s, _, _), _) => !s.sparkContext.isStopped }
    store.getOrElseUpdate((spark, scope, name), build).asInstanceOf[V]
  }

  /** The sessions that hold entries, after the sweep a lookup runs. */
  private[graft] def sessions: Set[SparkSession] = store.keySet.map(_._1).toSet

  /** A frame, materialized the one way every session frame is: cached,
    * counted once, and returned as its cached relation. A plan over it
    * starts from one `InMemoryRelation` leaf, with no build lineage to
    * re-analyze; the leaf keeps the frame's partitioning, so a grouping
    * or join on the frame's partition key plans no Exchange over it;
    * and a lost block recomputes from the lineage the relation keeps. */
  def frame(spark: SparkSession, scope: String, name: String)(build: => DataFrame): DataFrame =
    value(spark, scope, name) {
      val df = build.cache()
      df.count()
      SqlShims.cachedLeaf(df)
    }

  /** A staged replay input: a new directory under [[scratchRoot]]
    * holding `batches` as one parquet file each, deleted when the JVM
    * exits. Returns its path. A file source replays files in mtime
    * order, so each file's mtime is stamped 2 s past the one before
    * (coarser than any filesystem's mtime granule): the replay order
    * is the order of `batches`. */
  def stagedDir(spark: SparkSession, scope: String, prefix: String)
               (batches: => Seq[DataFrame]): String =
    value(spark, scope, prefix) {
      val dir = scratchDir(prefix)
      Runtime.getRuntime.addShutdownHook(new Thread(() => FileTree.delete(dir)))
      def files = dir.listFiles().filter(_.getName.endsWith(".parquet")).toSet
      batches.foldLeft(Long.MinValue) { (prevMtime, batch) =>
        val before = files
        batch.coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
        val file = (files -- before).head
        if (prevMtime != Long.MinValue) file.setLastModified(prevMtime + 2000L)
        file.lastModified
      }
      dir.getAbsolutePath
    }

  /** Scratch root for the streaming gates' per-run checkpoint/sink
    * trees and staged replay inputs. Each run creates, replays, reads
    * back and deletes its tree, so their durability domain is the run,
    * and the location is a knob (SPARK_GRAFT_STREAM_TMP), not a
    * hardcoded temp dir. Measured: pointing this at tmpfs did NOT move
    * the gates' wall time, because the checkpoint writes are small
    * enough that the page cache absorbs them; the knob matters on hosts
    * whose default temp filesystem is slow (or to aim a production
    * deployment's checkpoints at durable shared storage).
    */
  private[graft] lazy val scratchRoot: java.nio.file.Path =
    java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_STREAM_TMP",
      System.getProperty("java.io.tmpdir")))

  /** A new directory under [[scratchRoot]]; its caller deletes it. */
  private[graft] def scratchDir(prefix: String): java.io.File =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toFile
}
