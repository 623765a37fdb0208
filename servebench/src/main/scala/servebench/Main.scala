package servebench

import java.nio.file.Paths

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  *
  *   servebench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --cpus <n> --work <dir> --spans <file>
  *
  * `--work` is the run's working directory (Spark's local dir and the
  * at-rest layouts go there); `--spans` is where a traced run writes its
  * spans. The last stdout line is `SERVEBENCH_RESULT <json>` carrying
  * `correct`, `attempted`, `failed`, `metrics` (value, unit and sample
  * count each) and `info` (ambient CPU canary readings, failures). */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = Workload.all.find(_.name == opt("workload")).getOrElse {
      System.err.println(s"unknown workload ${opt("workload")}; known: ${Workload.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val (seed, seconds, trace, cpus) = (opt("seed").toLong, opt("seconds").toInt, opt("trace") == "1", opt("cpus").toInt)
    val work = opt("work")

    val canaryStart = graft.Verify.cpuCanarySec()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = (System.nanoTime() - t0) / 1e9

    val run = new ServeRun(spark, workload, seed, seconds, work)
    val metrics =
      try {
        if (!trace) run.endToEnd()
        else {
          val tracer = new Tracer
          val (ms, spans) = run.traced(sessionStartS, tracer)
          tracer.write(Paths.get(opt("spans")), spans)
          ms
        }
      } finally spark.stop()
    val canaryEnd = graft.Verify.cpuCanarySec()

    val mapper = new ObjectMapper()
    val out = mapper.createObjectNode()
    out.put("correct", run.failed == 0 && run.attempted > 0)
    out.put("attempted", run.attempted).put("failed", run.failed)
    val m = out.putObject("metrics")
    metrics.foreach(x => m.putObject(x.name).put("value", x.value).put("unit", x.unit).put("n", x.n))
    val info = out.putObject("info")
    info.put("workload", workload.name).put("clients", workload.clients).put("cpus", cpus)
      .put("session_start_s", sessionStartS)
      .put("canary_start_s", canaryStart).put("canary_end_s", canaryEnd)
      .put("canary_calibration_s", graft.Verify.canaryCalibrationSec)
    val f = info.putArray("failures")
    run.failures.foreach(f.add)
    println("SERVEBENCH_RESULT " + mapper.writeValueAsString(out))
  }
}
