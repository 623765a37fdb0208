package servebench

import scala.collection.mutable
import scala.util.Random

import graft.state.Engine

/** One chunk as the benchmark believes the server holds it. */
final class MChunk(val lib: String, val doc: String, val id: String,
                   var text: String, var emb: Array[Float], val tpe: String)

/** The seeded corpus and the benchmark's own mirror of the store.
  *
  * Two libraries of [[Corpus.ChunksPerLib]] chunks each, 64-d embeddings
  * drawn from a 32-centre Gaussian mixture, 20 documents per library and
  * `metadata.type` in {t0, t1}. Everything derives from `seed`, and ids
  * are explicit, so two runs with one seed hold the same store. The
  * mirror follows every write the benchmark makes, which is what lets
  * it compute exact top-k, recall and the expected `library_version`
  * itself. Reads may run concurrently; writes come from one client.
  */
final class Corpus(seed: Long) {
  import Corpus._

  private val rng = new Random(seed)
  val centres: Array[Array[Float]] = Array.fill(Centres)(normalize(Array.fill(Dim)(rng.nextGaussian().toFloat)))

  /** A point of the mixture: a random centre plus isotropic noise. */
  def sample(r: Random): Array[Float] = {
    val c = centres(r.nextInt(Centres))
    normalize(Array.tabulate(Dim)(i => c(i) + (Sigma * r.nextGaussian()).toFloat))
  }

  def text(r: Random, words: Int): String =
    Seq.fill(words)(s"w${r.nextInt(VocabSize)}").mkString(" ")

  private val ids = Libraries.map(l => l -> mutable.ArrayBuffer.empty[String]).toMap
  private val byId = Libraries.map(l => l -> mutable.HashMap.empty[String, MChunk]).toMap
  private val versions = mutable.HashMap.empty[String, Int]

  Libraries.foreach { lib =>
    (0 until ChunksPerLib).foreach { i =>
      add(new MChunk(lib, docId(lib, i % DocsPerLib), f"$lib-c$i%05d",
        text(rng, 8), sample(rng), if (rng.nextBoolean()) "t0" else "t1"), bump = false)
    }
    versions(lib) = DocsPerLib + ChunksPerLib
  }

  def version(lib: String): Int = versions(lib)
  def get(lib: String, id: String): Option[MChunk] = byId(lib).get(id)
  def lastId(lib: String): String = ids(lib).last

  /** The chunk at fraction `u` of the library's current id list. */
  def pick(lib: String, u: Double): MChunk = {
    val xs = ids(lib)
    byId(lib)(xs(math.min((u * xs.size).toInt, xs.size - 1)))
  }

  def add(c: MChunk, bump: Boolean = true): Unit = {
    ids(c.lib) += c.id
    byId(c.lib)(c.id) = c
    if (bump) versions(c.lib) += 1
  }

  def update(c: MChunk, text: String, emb: Array[Float]): Unit = {
    c.text = text
    c.emb = emb
    versions(c.lib) += 1
  }

  /** Swap-remove, so picks stay O(1). */
  def delete(c: MChunk): Unit = {
    val xs = ids(c.lib)
    val i = xs.indexOf(c.id)
    xs(i) = xs.last
    xs.remove(xs.size - 1)
    byId(c.lib).remove(c.id)
    versions(c.lib) += 1
  }

  def chunks(lib: String, tpe: Option[String]): Iterator[MChunk] =
    ids(lib).iterator.map(byId(lib)).filter(c => tpe.forall(_ == c.tpe))

  def exact(lib: String, q: Array[Float], k: Int, tpe: Option[String]): Seq[(String, Double)] =
    Stats.topK(q, chunks(lib, tpe).map(c => (c.id, c.emb)), k)

  /** Load the mirror's current state into an empty engine through its
    * public API with explicit ids, then pad each library's version (a
    * library update bumps it) so it equals the mirror's write count. */
  def ingest(engine: Engine): Unit = Libraries.foreach { lib =>
    engine.createLibrary(lib, id = Some(lib))
    (0 until DocsPerLib).foreach(d => engine.addDocument(lib, s"document $d", id = Some(docId(lib, d))))
    ids(lib).foreach { id =>
      val c = byId(lib)(id)
      engine.addChunk(lib, c.doc, c.text, Some(c.emb), Map("type" -> c.tpe), id = Some(c.id))
    }
    while (engine.getLibrary(lib).version < versions(lib)) engine.updateLibrary(lib, lib, None, None)
  }
}

object Corpus {
  val Dim = 64
  val Centres = 32
  val Sigma = 0.03
  val VocabSize = 2000
  val Libraries: Seq[String] = Seq("libA", "libB")
  val ChunksPerLib = 8000
  val DocsPerLib = 20

  def docId(lib: String, d: Int): String = f"$lib-d$d%02d"

  def normalize(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    v.map(x => (x / n).toFloat)
  }
}

/** One request of a client's sequence. `cls` names its latency class. */
sealed trait Req { def cls: String }
final case class SearchReq(cls: String, lib: String, emb: Option[Array[Float]],
                           text: Option[String], tpe: Option[String]) extends Req {
  def index: String = if (cls.startsWith("lsh")) "lsh" else "brute"
}
final case class AddReq(lib: String, doc: String, text: String, emb: Array[Float],
                        tpe: String) extends Req { val cls = "add" }
final case class UpdateReq(lib: String, u: Double, text: String) extends Req { val cls = "update" }
final case class DeleteReq(lib: String, u: Double) extends Req { val cls = "delete" }

object Req {
  val SearchClasses: Seq[String] = Seq("brute", "text", "lsh_a", "lsh_b")
  val WriteClasses: Seq[String] = Seq("add", "update", "delete")

  /** Client `stream`'s endless seeded request sequence. Reads come in
    * blocks of four, one of each class in a seeded order, so every run
    * has the same mix while concurrent clients pair their classes at
    * random: brute by embedding (every third one filtered on `type`),
    * brute by text, lsh on libA (registered at rest) and lsh on libB
    * (served through the index cache). With `writes`, each block of ten
    * requests opens with two writes to one library, the libraries
    * alternating by block, and the writes cycle through 5 adds, 3 text
    * updates and 2 deletes. A burst to one library makes one lsh read in
    * four rebuild its index, so the lsh median stays within one mode of
    * the latency distribution. */
  def sequence(corpus: Corpus, seed: Long, stream: Int, writes: Boolean): Iterator[Req] = {
    val r = new Random(seed * 1000003L + 7919L * (stream + 1))
    def lib() = Corpus.Libraries(r.nextInt(Corpus.Libraries.size))
    def tpe() = if (r.nextBoolean()) "t0" else "t1"
    var block = List.empty[String]
    var brutes = 0
    var sent = 0
    var written = 0
    Iterator.continually {
      sent += 1
      if (writes && (sent - 1) % 10 < 2) {
        val l = Corpus.Libraries((sent - 1) / 10 % 2)
        written += 1
        WriteCycle((written - 1) % WriteCycle.size) match {
          case "add" => AddReq(l, Corpus.docId(l, r.nextInt(Corpus.DocsPerLib)), corpus.text(r, 8),
            corpus.sample(r), tpe())
          case "update" => UpdateReq(l, r.nextDouble(), corpus.text(r, 8))
          case _ => DeleteReq(l, r.nextDouble())
        }
      } else {
        if (block.isEmpty) block = r.shuffle(SearchClasses.toList)
        val cls = block.head
        block = block.tail
        cls match {
          case "brute" =>
            brutes += 1
            SearchReq(cls, lib(), Some(corpus.sample(r)), None, if (brutes % 3 == 0) Some(tpe()) else None)
          case "text" => SearchReq(cls, lib(), None, Some(corpus.text(r, 4)), None)
          case "lsh_a" => SearchReq(cls, "libA", Some(corpus.sample(r)), None, None)
          case _ => SearchReq(cls, "libB", Some(corpus.sample(r)), None, None)
        }
      }
    }
  }

  private val WriteCycle =
    Vector("add", "update", "add", "delete", "add", "update", "add", "update", "add", "delete")
}
