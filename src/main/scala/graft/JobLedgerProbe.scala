package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.graft.ListenerBusDrain

import scala.collection.concurrent.TrieMap

/** Per-JOB wall-clock ledger for one named gate (r18 optimization
  * round): runs the gate warm (run 1 absorbs builds/JIT, run 2 is the
  * printed ledger) and prints every Spark job's duration, stage count
  * and shuffle bytes in submission order — the instrument that says
  * WHICH of a 16-job serve actually costs the seconds, where the
  * bench's per-query totals only say that some job does.
  *
  * Usage: runMain graft.JobLedgerProbe <gate> [sfDir]
  */
object JobLedgerProbe {

  private final class Ledger extends SparkListener {
    case class Job(id: Int, start: Long, var end: Long = 0L,
                   var stages: Int = 0, var tasks: Int = 0,
                   var taskTimeMs: Long = 0L,
                   var shuffle: Long = 0L, desc: String,
                   names: scala.collection.mutable.Set[String] =
                     scala.collection.mutable.Set.empty)
    val jobs = TrieMap.empty[Int, Job]
    val stageToJob = TrieMap.empty[Int, Int]
    @volatile var enabled = false
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val d = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, e.time, desc = d))
      e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
        j.stages += 1
        j.tasks += si.numTasks
        j.names += si.name.take(60)
        if (m != null) {
          j.taskTimeMs += m.executorRunTime
          j.shuffle += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = LocalSpark.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = Queries.all(name)
    // run 1: absorb layout builds / JIT / page cache like Bench's median
    fn(spark, sfDir).count()
    val ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)
    ledger.enabled = true
    graft.dedup.Dedup.releaseScratch(spark)
    val t0 = System.nanoTime()
    val n = fn(spark, sfDir).count()
    val total = (System.nanoTime() - t0) / 1e9
    ListenerBusDrain(spark.sparkContext)
    println(f"LEDGER $name rows=$n warm_total=$total%.3f s")
    val js = ledger.jobs.values.toSeq.sortBy(_.start)
    var prevEnd = 0L
    js.foreach { j =>
      val dur = (j.end - j.start) / 1e3
      val gap = if (prevEnd == 0) 0.0 else (j.start - prevEnd) / 1e3
      prevEnd = math.max(prevEnd, j.end)
      println(f"LEDGER job=${j.id}%3d dur=$dur%7.3f s gap_before=$gap%7.3f s stages=${j.stages}%2d tasks=${j.tasks}%4d task_time=${j.taskTimeMs / 1e3}%7.3f s shuffle=${j.shuffle / 1e6}%8.2f MB ${j.names.mkString("|")} ${j.desc.take(40)}")
    }
    val jobSum = js.map(j => (j.end - j.start) / 1e3).sum
    println(f"LEDGER job_time_sum=$jobSum%.3f s (driver-side/planning gap = ${total - jobSum}%.3f s)")
    spark.stop()
  }
}
