package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.{Chunker, Rerank}
import graft.plans.{CosineSimilarityExpr, VectorExpressions}

/** The JVM kernels the serving path shares with the Spark expressions:
  * [[VectorExpressions.cosine]] against [[CosineSimilarityExpr]], and
  * [[Rerank.keywordScore]] against the keyword-overlap score written as
  * Spark expressions (kept here as the reference). */
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
}
