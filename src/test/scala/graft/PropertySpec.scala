package graft

import graft.dedup.Dedup
import graft.expressions.LshBucketProbe
import graft.functions.VectorFunctions
import graft.index.{BruteForceKnn, RandomHyperplaneLsh}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlShims
import org.scalacheck.{Gen, Prop, Properties, Test}

/** ScalaCheck property tests (SURVEY §5): the invariants the reference
  * implied but never wired up, checked over generated inputs. Each case
  * runs real Spark jobs, so the success count is kept small.
  */
object GraftProperties extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5).withWorkers(1)

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dimGen = Gen.choose(2, 16)
  private def vecGen(dim: Int): Gen[Array[Float]] =
    Gen.containerOfN[Array, Float](dim, Gen.choose(-5f, 5f))
  private val corpusGen: Gen[(List[Array[Float]], Array[Float])] = for {
    dim <- dimGen
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, vecGen(dim))
    q <- vecGen(dim)
  } yield (rows, q)

  property("topk equals oracle and is a prefix of top-(k+1)") =
    Prop.forAll(corpusGen, Gen.choose(1, 10)) { case ((rows, q), k) =>
      val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
      val expected = OracleKnn.search(rows.map(_.map(_.toDouble)), q.map(_.toDouble), k)
      val got = BruteForceKnn.search(df, col("embedding"), col("vec_id"), q, k)
        .select("vec_id", "score").as[(Long, Double)].collect()
      val plusOne = BruteForceKnn.search(df, col("embedding"), col("vec_id"), q, k + 1)
        .select("vec_id").as[Long].collect()
      got.map(_._1).toSeq == expected.map(_._1.toLong) &&
        got.zip(expected).forall { case ((_, gs), (_, es)) => math.abs(gs - es) < 1e-9 } &&
        plusOne.take(got.length).toSeq == got.map(_._1).toSeq
    }

  property("LSH hits scored identically to brute (subset property)") =
    Prop.forAll(corpusGen) { case (rows, q) =>
      val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
      val (hits, _) = RandomHyperplaneLsh(4, 4, 42L)
        .search(df, col("embedding"), col("vec_id"), q, 10)
      val lshScores = hits.select("vec_id", "score").as[(Long, Double)].collect()
      val bruteAll = BruteForceKnn.scored(df, col("embedding"), q)
        .select("vec_id", "score").as[(Long, Double)].collect().toMap
      lshScores.forall { case (id, s) => math.abs(bruteAll(id) - s) < 1e-12 }
    }

  property("normalize is idempotent; cosine(v, unit(v)) is 1 (or 0 for the zero vector)") =
    Prop.forAll(dimGen.flatMap(vecGen)) { v =>
      val df = Seq(Tuple1(v)).toDF("v")
      val out = df.select(
        VectorFunctions.l2Normalize(col("v")).as("u"),
        VectorFunctions.l2Normalize(VectorFunctions.l2Normalize(col("v"))).as("uu"),
        VectorFunctions.cosine(col("v"), VectorFunctions.l2Normalize(col("v"))).as("c"))
        .head()
      val u = out.getSeq[Float](0)
      val uu = out.getSeq[Float](1)
      val norm = math.sqrt(u.map(x => x.toDouble * x).sum)
      u.zip(uu).forall { case (a, b) => math.abs(a - b) < 1e-5 } &&
        (if (norm > 0) math.abs(out.getDouble(2) - 1.0) < 1e-6 else out.getDouble(2) == 0.0)
    }

  // ---- ImageCodec properties (pure JVM, no Spark jobs) ----

  private val imageGen: Gen[graft.multimodal.RasterImage] = for {
    w <- Gen.choose(1, 32)
    h <- Gen.choose(1, 32)
    px <- Gen.containerOfN[Array, Byte](w * h, Gen.choose(Byte.MinValue, Byte.MaxValue))
  } yield graft.multimodal.RasterImage(w, h, 1, 255, px, "pgm")

  property("PGM encode/decode roundtrip preserves geometry and every pixel") =
    Prop.forAll(imageGen) { img =>
      val back = graft.multimodal.ImageCodec.decode(
        graft.multimodal.ImageCodec.encodePgm(img)).get
      back.width == img.width && back.height == img.height &&
        back.pixels.sameElements(img.pixels)
    }

  property("resizeNearest output pixels all come from the source raster") =
    Prop.forAll(imageGen, Gen.choose(1, 16), Gen.choose(1, 16)) { (img, tw, th) =>
      val out = graft.multimodal.ImageCodec.resizeNearest(img, tw, th)
      val srcSet = img.pixels.toSet
      out.width == tw && out.height == th && out.pixels.forall(srcSet.contains)
    }

  property("luma histogram is a probability vector") =
    Prop.forAll(imageGen, Gen.choose(2, 16)) { (img, bins) =>
      val h = graft.multimodal.ImageCodec.lumaHistogram(img, bins)
      h.length == bins && math.abs(h.sum - 1.0f) < 1e-4 && h.forall(_ >= 0f)
    }

  property("decode never throws on arbitrary bytes") =
    Prop.forAll(Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue))) { bytes =>
      graft.multimodal.ImageCodec.decode(bytes) // Option by contract
      true
    }

  property("minhash signatures: identical texts identical; equality iff same shingle set") =
    Prop.forAll(
      Gen.listOfN(12, Gen.oneOf("a", "b", "c", "d", "e")).map(_.mkString(" ")),
      Gen.listOfN(12, Gen.oneOf("a", "b", "c", "d", "e")).map(_.mkString(" "))) { (t1, t2) =>
      val docs = Seq((0L, t1), (1L, t1), (2L, t2)).toDF("doc_id", "text")
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val sameShingles = t1.split(" ").sliding(3).toSet == t2.split(" ").sliding(3).toSet
      sigs(0L) == sigs(1L) && (sigs(0L) == sigs(2L)) == sameShingles
    }

  property("WordNgrams expression == plain-Scala sliding shingles on arbitrary text") =
    Prop.forAll(
      Gen.listOfN(14, Gen.oneOf("a", "bb", "ccc", " ", "  ", "\t", "d e")).map(_.mkString(" ")),
      Gen.choose(1, 4)) { (text, n) =>
      // independent reference: the UDF body the expression replaced
      val toks = text.trim.split(" +")
      val expected: Seq[String] =
        if (toks.length < n) Seq.empty
        else toks.sliding(n).map(_.mkString(" ")).toSeq
      val got = Seq(Tuple1(text)).toDF("text")
        .select(graft.expressions.WordNgrams.ngrams(n)(col("text")).as("g"))
        .as[Seq[String]].head()
      got == expected
    }

  property("TextQualityFeatures == the Column regex stack on arbitrary text") =
    Prop.forAll(
      Gen.listOfN(12, Gen.oneOf("the", "a", "of", "zz", "q1", " ", "  ",
        "\t", "the", "€é", "a b", "")).map(_.mkString(" "))) { text =>
      val stop = Seq("the", "is", "and", "of", "to", "a", "in")
      val toks = split(trim(col("t")), " +")
      val rows = Seq(Tuple1(text)).toDF("t")
        .select(
          graft.expressions.TextQualityFeatures(col("t"), stop).as("f"),
          size(toks).cast("long").as("n_tok"),
          length(regexp_replace(trim(col("t")), " +", "")).cast("long").as("n_char"),
          size(filter(toks, x => x.isInCollection(stop))).cast("long").as("stop_hits"),
          size(array_distinct(toks)).cast("long").as("n_distinct"))
        .select(col("f.n_tok") === col("n_tok"),
          col("f.n_char") === col("n_char"),
          col("f.stop_hits") === col("stop_hits"),
          col("f.n_distinct") === col("n_distinct"))
        .head()
      (0 until 4).forall(rows.getBoolean)
    }

  property("splitmix64: expression == UDF scrambler == oracle floorMod bucketing on any id") =
    Prop.forAll(Gen.oneOf(Gen.choose(Long.MinValue, Long.MaxValue),
      Gen.oneOf(0L, -1L, 1L, Long.MinValue, Long.MaxValue))) { id =>
      val exprVal = Seq(Tuple1(id)).toDF("x")
        .select(graft.expressions.SplitMix64(col("x")).as("h")).as[Long].head()
      val shared = graft.functions.TextFunctions.splitmix64(id)
      val bucket = Seq(Tuple1(id)).toDF("x")
        .select(graft.functions.TextFunctions.samplingBucket(100)(col("x")).as("b"))
        .as[Long].head()
      exprVal == shared && bucket == java.lang.Math.floorMod(shared, 100L)
    }

  // per-table bucket arrays with null arrays, null elements and arrays
  // shorter (or longer) than the table count, and probe sets that are
  // one bucket or a 1-bit ball per table
  private val bucketProbeGen: Gen[(Seq[Seq[Int]], List[Option[List[Option[Int]]]])] = for {
    tables <- Gen.choose(1, 4)
    planes <- Gen.choose(1, 4)
    lsh = RandomHyperplaneLsh(tables, planes)
    qb <- Gen.containerOfN[Array, Int](tables, Gen.choose(0, (1 << planes) - 1))
    hamming <- Gen.oneOf(0, 1)
    bucket = Gen.frequency(1 -> Gen.const(None),
      6 -> Gen.choose(0, (1 << planes) - 1).map(Some(_)))
    rows <- Gen.listOfN(12, Gen.frequency(1 -> Gen.const(None),
      6 -> Gen.choose(0, tables + 1).flatMap(len => Gen.listOfN(len, bucket)).map(Some(_))))
  } yield (lsh.probeSets(qb, hamming), rows)

  property("LshBucketProbe (interpreted, generated, per layout row) == OR of buckets[t] = b") =
    Prop.forAll(bucketProbeGen) { case (sets, rows) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("buckets", ArrayType(IntegerType, containsNull = true))))
      // an RDD-backed frame: a local relation would be filtered by the
      // optimizer's interpreted constant folding, never by generated code
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows.zipWithIndex.map {
        case (r, i) => Row(i.toLong, r.map(_.map(_.map(Int.box).orNull)).orNull)
      }, 2), schema)
      def ids(where: org.apache.spark.sql.Column, conf: (String, String)*): Set[Long] = {
        val before = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
        conf.foreach { case (k, v) => spark.conf.set(k, v) }
        try df.where(where).select("id").as[Long].collect().toSet
        finally before.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
      // the old form reads an element past the array's end as NULL, which
      // needs ANSI off: under ANSI `buckets[t]` throws there instead
      val old = sets.zipWithIndex.flatMap { case (set, t) =>
        set.map(b => col("buckets").getItem(t) === b)
      }.reduce(_ || _)
      val want = ids(old, "spark.sql.ansi.enabled" -> "false")
      val probe = LshBucketProbe(col("buckets"), sets)
      val interpreted = ids(probe, "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
      val generated = ids(probe, "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
      // the layout shape: one (table, bucket) row per array element
      val layout = df.select(col("id"), posexplode(col("buckets")).as(Seq("table", "bucket")))
      val perRow = layout.where(SqlShims.column(
          LshBucketProbe(Seq(col("table"), col("bucket")).map(SqlShims.expression), sets)))
        .select("id").as[Long].collect().toSet
      interpreted == want && generated == want && perRow == want
    }

  private val attrEventsGen: Gen[List[(Long, Long, String, Long, Double)]] = for {
    n <- Gen.choose(0, 30)
    rows <- Gen.listOfN(n, for {
      user <- Gen.choose(1L, 4L)
      typ <- Gen.oneOf("click", "purchase", "view")
      mins <- Gen.choose(0L, 300L)
      v <- Gen.choose(0.0, 10.0)
    } yield (user, typ, mins, v))
  } yield rows.zipWithIndex.map { case ((u, t, m, v), i) => (i.toLong, u, t, m, v) }

  property("interval attribution join (inner + outer) == plain-Scala recomputation") =
    Prop.forAll(attrEventsGen) { rows =>
      val base = 1700000000000L
      val df = rows.map { case (id, u, t, m, v) =>
        (id, new java.sql.Timestamp(base + m * 60000), u, t, v, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val clicksDf = df.where(col("event_type") === "click")
      val purchasesDf = df.where(col("event_type") === "purchase")
      val gotInner = graft.streaming.EventStreams.clickAttribution(clicksDf, purchasesDf)
        .select(col("purchase_id"), col("click_id")).as[(Long, Long)].collect().toSet
      val clicks = rows.filter(_._3 == "click")
      val purchases = rows.filter(_._3 == "purchase")
      val want = (for {
        p <- purchases; c <- clicks
        if c._2 == p._2 && c._4 >= p._4 - 60 && c._4 <= p._4
      } yield (p._1, c._1)).toSet
      val gotOuterRows = graft.streaming.EventStreams
        .clickAttributionOuter(clicksDf, purchasesDf).count()
      val unmatched = purchases.count(p => !want.exists(_._1 == p._1))
      gotInner == want && gotOuterRows == want.size + unmatched
    }

  property("random projection: regenerated matrix is deterministic and JL-preserves norms") =
    Prop.forAll(Gen.listOfN(20, vecGen(64))) { rows =>
      val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
      val proj = df.select($"vec_id",
          VectorFunctions.randomProject(16)($"embedding").as("y"), $"embedding")
        .as[(Long, Array[Double], Array[Float])].collect().sortBy(_._1)
      // 1) determinism: plain-Scala regeneration of R from the same
      //    splitmix64 rule reproduces every projected component
      def rEntry(i: Int, j: Int): Int =
        java.lang.Math.floorMod(
          graft.functions.TextFunctions.splitmix64(j.toLong * 64 + i), 6L) match {
          case 0L => 1; case 1L => -1; case _ => 0
        }
      val scale = math.sqrt(3.0 / 16)
      val exact = proj.forall { case (_, y, x) =>
        y.indices.forall { j =>
          val s = x.indices.foldLeft(0.0)((a, i) => a + rEntry(i, j) * x(i).toDouble)
          math.abs(y(j) - s * scale) < 1e-9
        }
      }
      // 2) JL contract, loose bound: across 20 non-degenerate vectors
      //    the MEAN norm ratio concentrates near 1
      val ratios = proj.collect { case (_, y, x)
          if x.exists(_ != 0f) =>
        math.sqrt(y.map(v => v * v).sum) /
          math.sqrt(x.map(v => v.toDouble * v.toDouble).sum)
      }
      val meanOk = ratios.isEmpty || {
        val m = ratios.sum / ratios.size; m > 0.6 && m < 1.4
      }
      exact && meanOk
    }

  // Clustered sketches: random bases plus variants with 0-6 bits
  // flipped, so near pairs (some <= 3) AND far pairs both occur —
  // uniform random longs would make the property vacuously empty==empty.
  private val clusteredSketchesGen: Gen[List[Long]] = for {
    bases <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.long))
    variants <- Gen.listOfN(6, for {
      b <- Gen.oneOf(bases)
      bits <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.choose(0, 63)))
    } yield bits.foldLeft(b)((acc, i) => acc ^ (1L << i)))
  } yield (bases ++ variants).distinct

  property("hammingBandPairs is LOSSLESS at <=3 bits: exactly the all-pairs answer") =
    Prop.forAll(clusteredSketchesGen) { sketches =>
      // pigeonhole: <=3 differing bits across 4 disjoint 16-bit bands
      // leave at least one band identical, so banding loses nothing
      val df = sketches.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "sk")
      val got = Dedup.hammingBandPairs(df, "id", "sk", maxHamming = 3)
        .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Long)]
        .collect().toSet
      val all = (for {
        i <- sketches.indices; j <- sketches.indices if i < j
        h = java.lang.Long.bitCount(sketches(i) ^ sketches(j))
        if h <= 3
      } yield (i.toLong, j.toLong, h.toLong)).toSet
      got == all
    }

  property("SQ8 per-component reconstruction error is within half a quantization step") =
    Prop.forAll(dimGen.flatMap(d => vecGen(d))) { v =>
      val vn = VectorFunctions.l2NormalizeArr(v)
      // valid scales for this corpus-of-one: per-dim max |component|
      val scales = vn.map(x => math.abs(x.toDouble) / 127.0)
      val code = graft.index.SqKnn.encodeVecWithScales(v, scales)
      code.indices.forall { d =>
        val recon = code(d) * scales(d)
        // round-to-nearest: |x - recon| <= scale/2 (+ float slack);
        // a zero scale means the component is exactly 0
        math.abs(vn(d).toDouble - recon) <= scales(d) / 2 + 1e-7
      }
    }
}
