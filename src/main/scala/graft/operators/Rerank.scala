package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextFunctions

/** Deterministic rerank + answer pipeline — the engine's stand-in for the
  * reference's `map_rerank` LLM QA chain (reference `app/app.py:79-110`):
  * one 0-100 relevance score per retrieved chunk, threshold at 50, sort
  * desc, keep top-n, project answer records.
  *
  * The LLM scorer is replaced by a deterministic lexical-overlap score with
  * the same shape (per-row map producing (answer, score) — `app/app.py:88-90`):
  * score = floor(100 * |distinct prompt keywords present in chunk| /
  * |distinct prompt keywords|). The answer string is the first `answerLen`
  * chars of the chunk (the reference extracts an LLM answer span; we take a
  * deterministic prefix span).
  *
  * Two forms compute the same rows: [[answers]] over a DataFrame of hits,
  * and [[answerRows]] over hits already on the driver (the store facade's
  * fanout-bounded search result). Both score with [[keywordScore]].
  *
  * Reference quirks handled: threshold `score >= 50` (`app/app.py:36,100`);
  * the unbounded `results[i]` top-n loop bug (`app/app.py:97`, IndexError
  * swallowed at `:261-262`) is naturally safe under `limit`; display page is
  * 1-based (`app/app.py:108`).
  */
object Rerank {

  val ScoreThreshold = 50
  val AnswerLen = 160

  /** The prompt's distinct keywords, in order (reference
    * `app/app.py:49-56`). */
  def keywords(prompt: String): Seq[String] =
    prompt.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("[.\\-=?!]", " ").split("\\s+")
      .filter(w => w.nonEmpty && !TextFunctions.Stopwords.contains(w))
      .distinct.toSeq

  /** The 0-100 keyword-overlap score of `content` against `keywords`: 0 for
    * a prompt without keywords, None (null) for null content. The content
    * loses the same `[.-=?!]` punctuation the keywords lost (otherwise
    * "sandwich." never matches keyword "sandwich"), is lower-cased exactly
    * as Spark's `lower` does, and is split on whitespace as
    * [[TextFunctions.wsTokens]] splits. Its tokens are probed against the
    * keywords one by one, so no set of the page's words is built. */
  def keywordScore(keywords: Seq[String], content: String): Option[Int] =
    if (keywords.isEmpty) Some(0)
    else if (content == null) None
    else {
      // each keyword's count in `keywords`, which it adds once found
      val pending = mutable.HashMap.empty[String, Int]
      keywords.foreach(k => pending(k) = pending.getOrElse(k, 0) + 1)
      var found = 0
      val words = sqlLower(Punctuation.matcher(content).replaceAll(" "))
      // the runs between `\s` characters, as TextFunctions.wsSplit keeps them
      var i = 0
      while (i < words.length && pending.nonEmpty) {
        while (i < words.length && isSpace(words.charAt(i))) i += 1
        val start = i
        while (i < words.length && !isSpace(words.charAt(i))) i += 1
        if (i > start) pending.remove(words.substring(start, i)).foreach(found += _)
      }
      Some(math.floor(100.0 * found / keywords.size).toInt)
    }

  private val Punctuation = java.util.regex.Pattern.compile("[.\\-=?!]")

  /** A character of the regex class `\s`: `[ \t\n\x0B\f\r]`. */
  private def isSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000b' || c == '\f' || c == '\r'

  /** Spark's `lower` of a UTF8_BINARY string under the session's case
    * mapping setting. */
  private def sqlLower(s: String): String =
    CollationSupport.Lower.exec(UTF8String.fromString(s),
      CollationFactory.UTF8_BINARY_COLLATION_ID,
      SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)).toString

  /** [[keywordScore]] of `content` against the prompt's keywords, as a
    * column. */
  def overlapScore(prompt: String)(content: Column): Column = {
    val kws = keywords(prompt)
    udf((c: String) => keywordScore(kws, c)).apply(content)
  }

  /** R1-R4 + P7: score, threshold, rerank-sort (ties broken by similarity
    * then page for determinism), top-n, answer projection. */
  def answers(scoredChunks: DataFrame, prompt: String, topN: Int,
              threshold: Int = ScoreThreshold): DataFrame =
    scoredChunks
      .withColumn("score", overlapScore(prompt)(col("page_content")))
      .where(col("score") >= threshold)
      .orderBy(desc("score"), desc("similarity"), asc("document_path"), asc("page_number"))
      .limit(topN)
      .select(
        substring(col("page_content"), 1, AnswerLen).as("answer"),
        col("score"),
        col("page_content").as("content"),
        col("document_path").as("source"),
        col("similarity"),
        (col("page_number") + 1).as("page"))

  /** The schema of [[answers]] over [[KnnSearch.hitSchema]] hits. */
  val answerSchema: StructType = StructType(Seq(
    StructField("answer", StringType), StructField("score", IntegerType),
    StructField("content", StringType), StructField("source", StringType),
    StructField("similarity", DoubleType), StructField("page", IntegerType)))

  /** [[answers]]' order: score and similarity descending, then path and
    * page ascending, each as Spark orders it. */
  private val answerOrder: Ordering[(KnnSearch.Hit, Int)] = new Ordering[(KnnSearch.Hit, Int)] {
    def compare(a: (KnnSearch.Hit, Int), b: (KnnSearch.Hit, Int)): Int = {
      val (ha, hb) = (a._1, b._1)
      var c = Integer.compare(b._2, a._2)
      if (c == 0) c = KnnSearch.compareDoublesDesc(ha.similarity, hb.similarity)
      if (c == 0) c = KnnSearch.compareUtf8(ha.documentPath, hb.documentPath)
      if (c == 0) c = (ha.pageNumber, hb.pageNumber) match {
        case (null, null) => 0
        case (null, _) => -1
        case (_, null) => 1
        case (x, y) => x.compareTo(y)
      }
      c
    }
  }

  /** [[answers]] over hits on the driver, as rows of [[answerSchema]]:
    * the same score, threshold, order and top-n cut, the answer cut to
    * [[AnswerLen]] code points (as `substring` counts) and the page made
    * 1-based. */
  def answerRows(hits: Seq[KnnSearch.Hit], prompt: String, topN: Int,
                 threshold: Int = ScoreThreshold): Seq[Row] = {
    require(topN >= 0, s"topN must be non-negative, got $topN")
    val kws = keywords(prompt)
    hits.flatMap(h => keywordScore(kws, h.pageContent).filter(_ >= threshold).map((h, _)))
      .sorted(answerOrder).take(topN)
      .map { case (h, score) =>
        Row(answerSpan(h.pageContent), score, h.pageContent, h.documentPath, h.similarity,
          if (h.pageNumber == null) null else Int.box(h.pageNumber + 1))
      }
  }

  /** The first [[AnswerLen]] code points of `content`. */
  private def answerSpan(content: String): String =
    if (content == null || content.codePointCount(0, content.length) <= AnswerLen) content
    else content.substring(0, content.offsetByCodePoints(0, AnswerLen))
}
