package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards on the runnable surface: the set of `main`
  * entry points is fixed, and every one of them builds its session
  * through [[LocalSpark]], so a one-off program or a copied session
  * builder shows up here instead of in a later cleanup. */
class MainsSpec extends AnyFunSuite {

  private lazy val sources: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  test("the objects defining a main are exactly the kept entry points") {
    val objectDecl = """\bobject\s+(\w+)""".r
    val mainDecl = """\bdef\s+main\s*\(""".r
    val mains = sources.flatMap { case (_, text) =>
      mainDecl.findAllMatchIn(text).map { m =>
        objectDecl.findAllMatchIn(text.substring(0, m.start)).toSeq.last.group(1)
      }
    }
    assert(mains.sorted == Seq("Bench", "BenchOne", "Demo", "DumpPlans",
      "JobLedgerProbe", "Serve", "Smoke", "Verify"))
  }

  test("SparkSession.builder() is called in one main-source file, LocalSpark") {
    val builders = sources.collect {
      case (p, text) if text.contains("SparkSession.builder()") => p.getFileName.toString
    }
    assert(builders == Seq("LocalSpark.scala"))
  }

  test("main source reads exactly five environment variables, each by a literal name") {
    val texts = sources.map(_._2)
    val named = """sys\.env(?:\.\w+)?\(\s*"(\w+)"""".r
    val names = texts.flatMap(t => named.findAllMatchIn(t).map(_.group(1)))
    assert(texts.map(t => """sys\.env\b""".r.findAllIn(t).size).sum == names.size,
      "a sys.env read without a literal name")
    assert(!texts.exists(_.contains("System.getenv")))
    assert(names.toSet == Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_BUDGET",
      "SPARK_GRAFT_BENCH_OUT", "SPARK_GRAFT_STREAM_TMP"))
  }
}
