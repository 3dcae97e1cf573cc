package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions

class TextFunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, input: String): String =
    Seq(input).toDF("t").select(c.as("r")).as[String].head()

  test("cleanse replaces newlines then one double-space sweep (single-pass semantics)") {
    // reference modules/utilities.py:135-136: replace('\n',' ') then replace('  ',' ')
    assert(one(TextFunctions.cleanseText($"t"), "a\nb") === "a b")
    assert(one(TextFunctions.cleanseText($"t"), "a  b") === "a b")
    // Python 'a   b'.replace('  ',' ') == 'a  b' — 3 spaces collapse to 2, not 1
    assert(one(TextFunctions.cleanseText($"t"), "a   b") === "a  b")
    assert(one(TextFunctions.cleanseText($"t"), "a\n\nb") === "a b")
  }

  test("keyword list strips punct, lowercases, drops exact reference stoplist, keeps dups+order") {
    val kw = Seq("What is the FAST-scan? do tell: fast scan!").toDF("t")
      .select(TextFunctions.keywordList($"t").as("k")).as[Seq[String]].head()
    // 'what','is','the','do' are stopwords; '.-=?!' -> spaces; dups kept
    assert(kw === Seq("fast", "scan", "tell:", "fast", "scan"))
  }

  test("highlight wraps only keyword matches, joins on single space") {
    val got = one(TextFunctions.highlightKeywords(typedlit(Seq("fast")), $"t"), "a FAST b")
    assert(got === "a <span style=\"background-color: #ffff99\">FAST</span> b")
  }

  test("token counts: whitespace vs bpe-ish") {
    val df = Seq("Hello, world 42!").toDF("t")
    val (ws, bpe) = df.select(
      TextFunctions.tokenCountWs($"t").as("a"),
      TextFunctions.tokenCountBpe($"t").as("b")).as[(Int, Int)].head()
    assert(ws === 3)
    assert(bpe === 5) // Hello , world 42 !
  }

  test("langId picks marker-dominant language; CJK forces zh; no markers -> und") {
    assert(one(TextFunctions.langId($"t"), "the cat of the house is big") === "en")
    assert(one(TextFunctions.langId($"t"), "el perro y la casa es un lugar") === "es")
    assert(one(TextFunctions.langId($"t"), "der hund und die katze ist ein") === "de")
    assert(one(TextFunctions.langId($"t"), "xyz qqq zzz") === "und")
    assert(one(TextFunctions.langId($"t"), "中文 text here") === "zh")
  }

  test("fingerprint is stable under case/punct/whitespace noise") {
    val f1 = one(TextFunctions.fingerprintMd5($"t"), "Hello,   World!")
    val f2 = one(TextFunctions.fingerprintMd5($"t"), "hello world")
    assert(f1 === f2)
  }

  test("rolling hash is order-sensitive, fingerprint is not") {
    val r1 = one(TextFunctions.rollingHash($"t").cast("string"), "a b c")
    val r2 = one(TextFunctions.rollingHash($"t").cast("string"), "c b a")
    assert(r1 !== r2)
  }

  test("quality score is in [0, 100] and monotone-ish in stopword presence") {
    val q = Seq("the cat is on the mat and it is a fine day for all of us here today",
      "zzz").toDF("t")
      .select(TextFunctions.qualityScore($"t").as("q")).as[Double].collect()
    assert(q.forall(x => x >= 0 && x <= 100))
    assert(q(0) > q(1))
  }

  test("quality score kernel is bit-identical to the declarative formula") {
    // the declarative form the one-pass kernel replaces
    def reference(c: org.apache.spark.sql.Column) = {
      val words = TextFunctions.wsTokens(c)
      val nw = size(words).cast("double")
      val stopHits = size(filter(words,
        w => lower(w).isInCollection(TextFunctions.Stopwords))).cast("double")
      val alnum = length(regexp_replace(c, "[^A-Za-z0-9]", "")).cast("double")
      val total = length(c).cast("double")
      val lenTerm = lit(40.0) * least(nw / 100.0, lit(1.0))
      val stopTerm = when(nw === 0, lit(0.0))
        .otherwise(lit(30.0) * least(lit(3.0) * stopHits / nw, lit(1.0)))
      val alnumTerm = when(total === 0, lit(0.0)).otherwise(lit(30.0) * alnum / total)
      round(lenTerm + stopTerm + alnumTerm, 2)
    }
    val edge = Seq[String](null, "", "   ", "\t\n", "a\tb\nc \r\n d", "The AND",
      "THE the ThE tO To What's WHAT'S ? i I", "Ünïcödé wörds straße naïve café",
      "İF ıf Kelvin K and", "𝕏 marks 😀 the spot 𝄞", " non-breaking space",
      "x" * 500, ("the " * 40).trim, "123 456 abc DEF !!! ???")
      .toDF("t")
    val texts = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select($"text".as("t")).union(edge)
    val rows = texts.select(
      TextFunctions.qualityScore($"t").as("kernel"), reference($"t").as("reference"),
      (TextFunctions.qualityScore($"t") <=> reference($"t")).as("same"))
      .collect()
    assert(rows.length === texts.count())
    val differ = rows.filterNot(_.getBoolean(2))
    assert(differ.isEmpty, s"kernel != reference on ${differ.take(5).mkString(", ")}")
    // null text scores null; empty and blank text score 0
    val e = edge.select(TextFunctions.qualityScore($"t").as("q")).collect().map(_.get(0))
    assert(e(0) == null)
    assert(e.slice(1, 4).toSeq === Seq(0.0, 0.0, 0.0))
  }

  test("charEntropy: zero for uniform repeats, ln k for k uniform chars, matches manual") {
    val got = Seq("aaaa", "ab", "abcd", "aab")
      .toDF("t").select(TextFunctions.charEntropy($"t").as("e"))
      .as[Double].collect()
    assert(got(0) === 0.0)
    assert(math.abs(got(1) - math.log(2)) < 1e-12)
    assert(math.abs(got(2) - math.log(4)) < 1e-12)
    val p = Seq(2.0 / 3, 1.0 / 3)
    val manual = -p.map(x => x * math.log(x)).sum
    assert(math.abs(got(3) - manual) < 1e-12)
  }
}
