package servebench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval. `parent` is the id of the span that caused it (-1
  * for a root), `req` the request it belongs to (-1 until attributed).
  * Times are `System.nanoTime` values; `attrs` carries the counts
  * measured at the same boundary. */
final case class Span(id: Int, parent: Int, req: Int, name: String, startNs: Long, endNs: Long,
                      attrs: Map[String, Double] = Map.empty) {
  def ns: Long = endNs - startNs
  def mid: Long = startNs + ns / 2
}

/** In-memory span recorder. Spans the benchmark opens around its own
  * calls are recorded directly; Spark's listeners add job, stage and
  * query spans, which carry wall-clock milliseconds and are moved onto
  * the `nanoTime` axis with one offset taken at construction. */
final class Tracer {
  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def wallMsToNs(ms: Long): Long = ms * 1000000L + offsetNs

  /** An id for a span recorded later, once its end is known, so its
    * children can name it as their parent. */
  def reserve(): Int = seq.getAndIncrement()

  def recordAs(id: Int, parent: Int, req: Int, name: String, startNs: Long, endNs: Long,
               attrs: Map[String, Double] = Map.empty): Span = {
    val s = Span(id, parent, req, name, startNs, endNs, attrs)
    spans.add(s)
    s
  }

  def record(parent: Int, req: Int, name: String, startNs: Long, endNs: Long,
             attrs: Map[String, Double] = Map.empty): Span =
    recordAs(reserve(), parent, req, name, startNs, endNs, attrs)

  /** Time `f` as a span; returns the span and f's result. */
  def span[A](parent: Int, req: Int, name: String)(f: => A): (Span, A) = {
    val t0 = System.nanoTime()
    val a = f
    (record(parent, req, name, t0, System.nanoTime()), a)
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
  def count: Int = spans.size

  /** Register the Spark and query-execution listeners. */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobStart.put(e.jobId, e.time); () }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStart.remove(e.jobId)).foreach { t =>
          record(-1, -1, "exec.job", wallMsToNs(t), wallMsToNs(e.time)): Unit
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        for (s <- i.submissionTime; c <- i.completionTime if m != null)
          record(-1, -1, "exec.stage", wallMsToNs(s), wallMsToNs(c), Map(
            "tasks" -> i.numTasks.toDouble,
            "task_cpu_ms" -> m.executorCpuTime / 1e6,
            "gc_ms" -> m.jvmGCTime.toDouble,
            "shuffle_mb" -> (m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten) / 1e6))
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val phases = qe.tracker.phases
        def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        val rewriteNs = qe.tracker.rules.collect {
          case (rule, s) if rule.contains("LshProbeRewrite") => s.totalTimeNs
        }.sum
        val times = phases.values.toSeq
        if (times.nonEmpty)
          record(-1, -1, "plans.query", wallMsToNs(times.map(_.startTimeMs).min),
            wallMsToNs(times.map(_.endTimeMs).max), Map(
              "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
              "planning_ms" -> ms("planning"), "lsh_rewrite_ms" -> rewriteNs / 1e6,
              "files" -> Tracer.filesRead(qe.executedPlan).toDouble)): Unit
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
  }

  /** Wait until the asynchronous listener bus has gone quiet. */
  def drain(): Unit = {
    var last = -1
    while (count != last) { last = count; Thread.sleep(500) }
  }

  /** Give every unattributed listener span the request window its
    * midpoint falls in. Windows are disjoint: the traced replay runs one
    * call at a time. */
  def attribute(windows: Seq[Span]): Seq[Span] = {
    val sorted = windows.sortBy(_.startNs).toArray
    val starts = sorted.map(_.startNs)
    all.map { s =>
      if (s.req >= 0) s
      else {
        val i = java.util.Arrays.binarySearch(starts, s.mid) match {
          case x if x >= 0 => x
          case x => -x - 2
        }
        if (i >= 0 && s.mid <= sorted(i).endNs) s.copy(parent = sorted(i).id, req = sorted(i).req) else s
      }
    }
  }

  /** Write the spans as JSON lines. */
  def write(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = spans.map { s =>
      val o = mapper.createObjectNode().put("id", s.id).put("parent", s.parent).put("req", s.req)
        .put("name", s.name).put("start_ns", s.startNs).put("end_ns", s.endNs)
      val a = o.putObject("attrs")
      s.attrs.foreach { case (k, v) => a.put(k, v) }
      mapper.writeValueAsString(o)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Files the query's scans read, summed over the executed plan. */
  def filesRead(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => filesRead(a.executedPlan)
    case q: QueryStageExec => filesRead(q.plan)
    case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case other => (other.children ++ other.subqueries).map(filesRead).sum
  }
}
