package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.{BinaryQuant, Chunker, Rerank, ServingRow}
import graft.plans.{CosineSimilarityExpr, VectorExpressions}

/** The JVM kernels the serving path shares with the Spark expressions:
  * [[VectorExpressions.cosine]] against [[CosineSimilarityExpr]],
  * [[Rerank.keywordScore]] against the keyword-overlap score written as
  * Spark expressions (kept here as the reference), and the binary sketch's
  * node id, sign words and rounding against `xxhash64`,
  * [[BinaryQuant.pack64]] and `round(x, 4)`. */
class ServingKernelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("cosine over float arrays is bit-identical to CosineSimilarityExpr, " +
      "zero vectors and unequal lengths included") {
    val rng = new scala.util.Random(7)
    def vec(n: Int): Array[Float] = Array.fill(n)(rng.nextGaussian().toFloat)
    val pairs: Seq[(Array[Float], Array[Float])] =
      Seq.fill(40)((vec(1536), vec(1536))) ++
        Seq.fill(10)((vec(1 + rng.nextInt(40)), vec(1 + rng.nextInt(40)))) ++
        Seq((new Array[Float](16), vec(16)), (vec(16), new Array[Float](16)),
          (new Array[Float](3), new Array[Float](3)), (Array.empty[Float], vec(4)),
          (Array(1e-30f, 3e38f), Array(-3e38f, 1e-30f)))
    def lit(a: Array[Float]) = Literal.create(a, ArrayType(FloatType, containsNull = false))
    // the interpreted path
    pairs.foreach { case (a, b) =>
      val expr = CosineSimilarityExpr(lit(a), lit(b)).eval().asInstanceOf[Double]
      assert(bits(VectorExpressions.cosine(a, b)) === bits(expr), s"${a.length} x ${b.length}")
    }
    // the generated-code path of a scan
    val codegen = pairs.toDF("a", "b")
      .select(VectorExpressions.cosineSim($"a", $"b")).as[Double].collect()
    pairs.zip(codegen).foreach { case ((a, b), c) =>
      assert(bits(VectorExpressions.cosine(a, b)) === bits(c), s"${a.length} x ${b.length}")
    }
  }

  /** The keyword-overlap score as Spark expressions: distinct whitespace
    * tokens of the lower-cased, punctuation-stripped content, intersected
    * with the prompt's keywords. */
  private def referenceScore(prompt: String)(content: Column): Column = {
    val kws = Rerank.keywords(prompt)
    if (kws.isEmpty) lit(0)
    else {
      val words = array_distinct(TextFunctions.wsTokens(
        lower(regexp_replace(content, "[.\\-=?!]", " "))))
      floor(lit(100.0) * size(array_intersect(words, typedlit(kws))) / kws.size)
        .cast("int")
    }
  }

  test("keywordScore equals the Spark-expression score on fixture pages, null and " +
      "empty content, keyword-less prompts and non-ASCII text") {
    val pages = Chunker.chunk(spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
        .select($"source".as("document_path"), $"text"), "text", 32)
      .select($"page_content").as[String].collect().toSeq
    val special = Seq(null, "", "   ", "\t\n", "sandwich. spark-table=scan?query!",
      "İSTANBUL is a city", "istanbul", "i̇stanbul", "ΟΔΟΣ ΣΟΦΟΣ", "οδος", "οδοσ",
      "ǅungla ǆ Ǆ", "ǆungla", "🚀 rocket launch 🚀", "ROCKET🚀 LAUNCH",
      "The AND of what's Spark")
    val contents = pages ++ special
    val words = pages.flatMap(_.split("\\s+")).filter(_.length > 3).distinct.sorted
    val rng = new scala.util.Random(11)
    val prompts = Seq("fast spark table scan query", "the and of", "", "   ?!",
      "İSTANBUL", "what is istanbul?", "ΟΔΟΣ", "οδος σοφος", "ǅungla", "ǆungla",
      "🚀", "rocket 🚀 launch", "sandwich spark-table", "What's THE spark") ++
      Seq.fill(46)(Seq.fill(1 + rng.nextInt(5))(words(rng.nextInt(words.size))).mkString(" "))
    val frame = contents.toDF("content")
    var compared = 0
    prompts.foreach { p =>
      val kws = Rerank.keywords(p)
      val rows = frame.select($"content", referenceScore(p)($"content"),
          Rerank.overlapScore(p)($"content")).collect()
      rows.foreach { r =>
        val content = r.getString(0)
        val expected = if (r.isNullAt(1)) None else Some(r.getInt(1))
        val udf = if (r.isNullAt(2)) None else Some(r.getInt(2))
        assert(Rerank.keywordScore(kws, content) === expected, s"prompt '$p', content '$content'")
        assert(udf === expected, s"prompt '$p', content '$content'")
        compared += 1
      }
    }
    assert(compared === prompts.size * contents.size)
    // a prompt without keywords scores every row 0, so threshold 0 keeps it
    assert(Rerank.keywordScore(Rerank.keywords("the and of"), null) === Some(0))
  }

  test("the binary sketch's node id is Spark's xxhash64 for ASCII, non-ASCII, empty " +
      "and null ids") {
    val ids: Seq[String] = Seq("a", "doc/1.pdf#page=3", "0" * 40, "İSTANBUL", "i̇stanbul",
      "ΟΔΟΣ", "🚀 rocket", "ǅ", "", null) ++
      (1 to 20).map(i => java.security.MessageDigest.getInstance("SHA-1")
        .digest(s"path/$i#$i".getBytes("UTF-8")).map("%02x".format(_)).mkString)
    val expected = ids.toDF("id").select(xxhash64($"id")).as[Long].collect().toSeq
    assert(ids.map(BinaryQuant.nodeId) === expected)
    assert(BinaryQuant.nodeId(null) === 42L)
  }

  test("the binary sketch's sign words equal pack64 for 1,536-dim, short, zero, " +
      "negative-zero, NaN and null vectors") {
    val rng = new scala.util.Random(5)
    def vec(n: Int): Array[Float] = Array.fill(n)(rng.nextGaussian().toFloat)
    val full: Seq[Array[Float]] = Seq.fill(30)(vec(1536)) ++ Seq(
      new Array[Float](1536), Array.fill(64)(-0.0f), Array.fill(64)(Float.NaN),
      Array.tabulate(64)(i => if (i % 3 == 0) -0.0f else if (i % 3 == 1) Float.NaN else -1f),
      Array.tabulate(70)(i => if (i % 2 == 0) Float.NegativeInfinity else Float.MinPositiveValue),
      null)
    val short: Seq[Array[Float]] = Seq(Array.empty[Float], vec(1), vec(31), vec(32), vec(33),
      vec(63), Array.fill(40)(-0.0f), Array.fill(10)(Float.NaN))
    def packed(vs: Seq[Array[Float]]): Seq[(Long, Long)] = {
      val (h0, h1) = BinaryQuant.pack64($"v")
      vs.map(Tuple1(_)).toDF("v").select(h0, h1).as[(Long, Long)].collect().toSeq
    }
    def words(vs: Seq[Array[Float]]): Seq[(Long, Long)] =
      vs.map(v => (BinaryQuant.packWord(v, 0), BinaryQuant.packWord(v, 32)))
    assert(words(full) === packed(full))
    // pack64 reads past a short vector's end as null, a 0 bit, with ANSI on
    // and off
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try Seq("true", "false").foreach { on =>
      spark.conf.set("spark.sql.ansi.enabled", on)
      assert(words(short) === packed(short), s"ANSI $on")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("hammingTopK over a 10-dim corpus runs with ANSI on and equals serveHamming's hits") {
    val rng = new scala.util.Random(13)
    def vec(): Array[Float] = Array.fill(10)(rng.nextGaussian().toFloat)
    val rows = (0 until 60).map(i => ServingRow(s"doc/$i", "t", s"path/$i", Int.box(0),
      s"content $i", vec(), i.toLong, isDeleted = false))
    val corpus = rows.map(r => (BinaryQuant.nodeId(r.id), r.vector)).toDF("vec_id", "embedding")
    val served = spark.sparkContext.parallelize(rows.grouped(16).map(_.toArray).toSeq, 4)
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try Seq.fill(4)(vec()).foreach { q =>
      for ((k, candidates) <- Seq((3, 8), (5, 20), (10, 60))) {
        val batch = BinaryQuant.hammingTopK(corpus, Seq((-1L, q)).toDF("q_id", "q_vec"),
            k, candidates).orderBy($"rank")
          .select($"vec_id", $"similarity").as[(Long, Double)].collect().toSeq
        val hits = BinaryQuant.serveHamming(served, q, k, candidates)
          .map(h => (BinaryQuant.nodeId(h.id), h.similarity.doubleValue))
        assert(hits === batch, s"k $k, $candidates candidates")
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("the binary sketch's rounding equals Spark's round(x, 4), half-way points " +
      "and NaN included") {
    val rng = new scala.util.Random(9)
    val xs: Seq[java.lang.Double] = (Seq(0.00005, -0.00005, 0.12345, -0.12345, 0.99995,
      -0.99995, 1.00005, 0.5, 0.00015, 0.00025, 0.1234500000001, 0.12344999999, 1e-20,
      -1e-20, 0.0, -0.0, 1.0, -1.0, Double.MinPositiveValue, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity) ++
      Seq.fill(200)(rng.nextDouble() * 2 - 1) ++
      Seq.fill(50)(math.round((rng.nextDouble() * 2 - 1) * 20000) / 20000.0))
      .map(java.lang.Double.valueOf) :+ null
    val expected = xs.toDF("x").select(round($"x", 4)).collect().map(r =>
      if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0))).toSeq
    xs.zip(expected).foreach { case (x, e) =>
      val got = BinaryQuant.round4(x)
      if (e == null) assert(got == null, s"$x")
      else assert(bits(got) === bits(e), s"$x")
    }
  }
}
