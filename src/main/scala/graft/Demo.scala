package graft

import graft.embed.HashingEmbedder
import graft.session._

/** End-to-end interactive-session demo — the engine's equivalent of the
  * reference's demo.py / interactive_cli.py happy path: create library
  * → document → chunks (auto-embedded) → set params → query → status.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val session = new InteractiveSession(spark, HashingEmbedder(dim = 32))
    session.submit(AddLibrary("demo", Some("demo library")))
    val lib = session.status.libraryIds.head
    session.submit(AddDocument(lib, "landmarks"))
    val doc = session.engine.listDocuments(lib).head.id
    Seq(
      ("eiffel tower is a landmark in paris", "landmark"),
      ("the statue of liberty stands in new york", "landmark"),
      ("big ben is a famous clock in london", "landmark"),
      ("paris is the capital of france", "city"),
      ("london is the capital of england", "city")
    ).foreach { case (text, typ) =>
      session.submit(AddChunk(lib, doc, text, Map("type" -> typ)))
    }
    session.submit(SetQueryParams(k = 3, index = "brute", filters = Map("type" -> "city")))
    session.submit(StartQuery(lib, "what is the capital of france"))

    val st = session.status
    println(s"DEMO library=${st.libraryNames(lib)} chunks=${st.chunkCounts(lib)} " +
      s"catalog=${st.metadataCatalog.view.mapValues(_.sorted).toMap}")
    val res = session.partialResults.get
    println(s"DEMO index=${res.index} index_used=${res.indexUsed} version=${res.libraryVersion}")
    res.hits.foreach(h => println(f"DEMO hit score=${h.score}%.4f type=${h.metadata("type")} text=${h.text}"))
    println(s"DEMO timeline=${st.timeline.mkString(" | ")}")
    session.submit(Finish)
    spark.stop()
  }
}
