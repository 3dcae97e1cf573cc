package graft

import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Embedder
import graft.operators.{Bm25, Dedup, LineFilter, Rake, Rerank}

/** Lowercasing does not depend on the host's default locale: under a
  * Turkish default, "TITLE" still lowercases to "title" (as Spark's
  * `lower`, DuckDB's `lower` and Python's `str.lower` give), so shingles,
  * stored vectors, prompt keywords, key phrases, policy phrases and
  * expanded query terms are the same on every host. */
class LocaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val text = "TITLE Index LIST of DIGITS in Istanbul"

  private def shingles(): Seq[String] =
    Seq(text).toDF("text").select(Dedup.shinglesFast(2)($"text")).as[Seq[String]].head()

  test("shinglesFast, embed, embedPortable and keywords under a Turkish default locale " +
      "equal their ROOT results") {
    val saved = Locale.getDefault
    val (sh, vec, portable, keywords) = try {
      Locale.setDefault(Locale.ROOT)
      (shingles(), Embedder.embed(text, 64, 7).toSeq, Embedder.embedPortable(text, 64).toSeq,
        Rerank.keywords(text))
    } finally Locale.setDefault(saved)
    assert(sh.contains("title index"))
    // the declarative twin lowercases with Spark's `lower`
    assert(sh === Seq(text).toDF("text").select(Dedup.shingles($"text", 2))
      .as[Seq[String]].head())
    try {
      Locale.setDefault(Locale.forLanguageTag("tr-TR"))
      assert("TITLE".toLowerCase != "title", "the Turkish default must change plain toLowerCase")
      assert(shingles() === sh)
      assert(Embedder.embed(text, 64, 7).toSeq === vec)
      assert(Embedder.embedPortable(text, 64).toSeq === portable)
      assert(Rerank.keywords(text) === keywords)
    } finally Locale.setDefault(saved)
  }

  test("Rake phrases, LineFilter policy phrases and Bm25 fuzzy terms under a Turkish " +
      "default locale equal their ROOT results") {
    val docs = Seq((1L, s"$text\nthis line names a LIST ITEM and ends here.\nanother plain line ends here."))
      .toDF("doc_id", "text")
    def run(): (Seq[String], Seq[(Int, String)], Set[String]) = (
      Seq(text).toDF("text").select(Rake.phrasesUdf(Set("of", "in"))($"text")).as[Seq[String]].head(),
      LineFilter.lineVerdicts(docs, "text", "doc_id", minWords = 2, policyPhrases = Seq("LIST ITEM"))
        .select($"line_idx", $"reason").as[(Int, String)].collect().sortBy(_._1).toSeq,
      Bm25.fuzzyExpandTerms(docs, "text", Seq("DIGITS")).as[String].collect().toSet)
    val saved = Locale.getDefault
    val (phrases, verdicts, terms) = try {
      Locale.setDefault(Locale.ROOT)
      run()
    } finally Locale.setDefault(saved)
    assert(phrases.contains("title index list"))
    assert(verdicts.map(_._2) === Seq("no_terminal", "policy", "ok"))
    assert(terms === Set("digits"))
    try {
      Locale.setDefault(Locale.forLanguageTag("tr-TR"))
      assert(run() === ((phrases, verdicts, terms)))
    } finally Locale.setDefault(saved)
  }
}
