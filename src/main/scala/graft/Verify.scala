package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Pure-CPU ambient canary (r17 — the r16 verdict's #8 stretch,
    * Bench's `suite_ambient_factor` honesty extended to Verify): a
    * fixed single-thread splitmix64 spin whose calm-host time is the
    * FROZEN [[canaryCalibrationSec]], timed at the start and end of
    * the dump. Verify wall time at sf0.1 swings 4–27× with machine
    * load (SKILL.md's measured range — 255 s and 1633 s were the same
    * code); `verify_ambient_factor` = measured/calibration classifies
    * a slow correctness run as load, machine-readably, the way bench
    * runs self-describe. Pure JVM compute — no Spark, no SF, no
    * anchors — so the reading is identical across scale factors. */
  def cpuCanarySec(): Double = {
    val t0 = System.nanoTime()
    var acc = 0L
    var i = 0L
    while (i < 200000000L) {
      acc ^= graft.functions.TextFunctions.splitmix64(i)
      i += 1
    }
    // fold acc into a side effect the JIT cannot elide
    if (acc == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** Calm-host calibration for [[cpuCanarySec]] (min of repeated
    * warm runs on this container during r17, idle: 0.231/0.248/0.231).
    */
  val canaryCalibrationSec: Double = 0.23

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSpark.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val canaryStart = cpuCanarySec()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Inline runtime-trained constants (the PQ codebook, kmeans
    // centroids) into their oracle-SQL placeholders so the dumped SQL
    // is self-contained. Guarded like the per-query loop: a failed
    // training pass must cost only the placeholder-bearing oracles
    // (their SQL keeps the placeholder and fails individually), never
    // the whole oracle_sql.json dump.
    val subs =
      try Queries.oracleSubstitutions(spark, sfDir)
      catch {
        case e: Throwable => // same breadth as the per-query guard above
          println(s"[verify] oracle substitutions failed: ${e.getMessage}")
          Map.empty[String, String]
      }
    val json = SparkEntry.oracleSql
      .map { case (k, v0) =>
        val v = subs.foldLeft(v0) { case (s, (p, r)) => s.replace(p, r) }
        s"${q(k)}: ${q(v)}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // ambient self-description (one parseable line; mean of the two
    // canaries — load at either end of a long dump counts)
    val canaryEnd = cpuCanarySec()
    val factor = (canaryStart + canaryEnd) / 2.0 / canaryCalibrationSec
    println(f"""VERIFY_AMBIENT {"canary_start_sec":$canaryStart%.3f,"canary_end_sec":$canaryEnd%.3f,"calibration_sec":$canaryCalibrationSec%.3f,"verify_ambient_factor":$factor%.3f}""")
    spark.stop()
  }
}
