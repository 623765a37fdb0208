package graft

import graft.api.HttpApi
import graft.embed.HashingEmbedder
import graft.state.Engine

/** Run the REST API: `runMain graft.Serve [port]` (default 8900). */
object Serve {
  def main(args: Array[String]): Unit = {
    val port = if (args.nonEmpty) args(0).toInt else 8900
    val spark = LocalSpark.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val api = new HttpApi(spark, new Engine(), HashingEmbedder(dim = 64))
    val bound = api.start(port)
    println(s"SERVE listening on http://127.0.0.1:$bound/vector_db")
    Thread.currentThread().join()
  }
}
