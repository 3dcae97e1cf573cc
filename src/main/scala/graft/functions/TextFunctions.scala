package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text scalar transforms — all pure `org.apache.spark.sql.functions` built-in
  * compositions (codegen'd, oracle-expressible in ANSI SQL).
  */
object TextFunctions {

  /** The reference's exact 30-entry stoplist (reference `app/app.py:55`). */
  val Stopwords: Seq[String] = Seq(
    "?", "a", "an", "and", "or", "do", "of", "if", "not", "for", "are", "was",
    "were", "is", "can", "have", "has", "there", "their", "the", "how", "why",
    "when", "what", "what's", "in", "to", "i", "we", "you")

  /** Single-pass cleanse: `\n`->space then one global sweep of double-space ->
    * single space. Deliberately keeps the reference's single-pass semantics
    * (does NOT fully collapse 3+ spaces) — reference `modules/utilities.py:135-136`.
    */
  def cleanseText(c: Column): Column =
    regexp_replace(regexp_replace(c, "\n", " "), "  ", " ")

  /** Intended semantics of the reference's non-empty page filter
    * (`modules/utilities.py:198`; the reference compares a *method* ref there —
    * we implement what was meant). */
  def nonEmpty(c: Column): Column = length(trim(c)) > 0

  /** Whitespace tokens, empties dropped (Python `str.split()` semantics).
    *
    * Compiled one-pass UDF rather than `filter(split(...))`: the ArrayFilter
    * higher-order function evaluates an interpreted lambda per ELEMENT
    * (millions of invocations per partition on token streams) — the same
    * profiling lesson as Dedup.shinglesFast. Values are identical: Spark's
    * split keeps trailing empties (limit -1) where Java's drops them, but
    * both pipelines end at `_.nonEmpty`; null in → null out, matching the
    * HOF's null propagation. The compiled regex is shared per JVM. */
  def wsTokens(c: Column): Column = wsTokensUdf(c)

  private val WsPattern = java.util.regex.Pattern.compile("\\s+")
  private val wsTokensUdf = udf { (s: String) => if (s == null) null else wsSplit(s) }

  /** [[wsTokens]] of a non-null string, on the JVM. */
  private[graft] def wsSplit(s: String): Array[String] = WsPattern.split(s).filter(_.nonEmpty)

  /** Keyword extraction, bit-faithful to reference `app/app.py:49-56`:
    * strip `.-=?!` to spaces, split on whitespace, lowercase, drop stoplist
    * words. Keeps duplicates and order (list-comprehension semantics — so a
    * higher-order `filter`+`transform`, NOT `array_except` which dedups). */
  def keywordList(c: Column): Column = {
    val words = wsTokens(regexp_replace(c, "[.\\-=?!]", " "))
    transform(
      filter(words, w => !lower(w).isInCollection(Stopwords)),
      w => lower(w))
  }

  /** Keyword highlight (reference `app/app.py:58-62`): split on single space,
    * wrap matches in the highlight span, join with single space. */
  def highlightKeywords(keywords: Column, text: Column): Column =
    array_join(
      transform(
        split(text, " "),
        w => when(array_contains(keywords, lower(w)),
               concat(lit("<span style=\"background-color: #ffff99\">"), w, lit("</span>")))
             .otherwise(w)),
      " ")

  // ----- LLM-data-pipeline text analysis (beyond the reference surface) -----

  /** Sentence segmentation: split on a terminator (`.`/`!`/`?`, runs
    * collapse) followed by a space, trailing terminators stripped from the
    * final sentence. Regex-only — one narrow projection per document, and
    * every decision ANSI-replayable (`string_split_regex` +
    * `regexp_replace` in DuckDB). A terminator-free document is one
    * sentence, mirroring the splitter contract of sentence-piece pipelines. */
  def splitSentences(c: Column): Column =
    transform(
      filter(split(c, "[.!?]+ "), s => length(s) > 0),
      s => regexp_replace(s, "[.!?]+$", ""))

  /** Whitespace token count. */
  def tokenCountWs(c: Column): Column = size(wsTokens(c))

  /** BPE-ish token count: letter runs, digit runs, single punctuation marks —
    * a deterministic proxy for subword tokenizers, portable to ANSI SQL
    * (`regexp_extract_all`). */
  def tokenCountBpe(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Per-language discriminative stopword lists for the n-gram/stopword
    * language-ID heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "was", "for", "with"),
    "es" -> Seq("el", "la", "de", "y", "en", "es", "un", "una", "por", "con"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "mit", "von", "zu"),
    "fr" -> Seq("le", "les", "et", "est", "dans", "pour", "que", "qui", "sur", "pas"))

  /** Language-ID heuristic: CJK codepoints -> "zh"; otherwise the language
    * whose marker-word hit count is highest (ties broken in LangMarkers
    * order); "und" when no marker hits at all. Deterministic and
    * SQL-expressible. */
  def langId(c: Column): Column = {
    val words = wsTokens(lower(c))
    def score(ws: Seq[String]): Column = size(filter(words, w => w.isInCollection(ws)))
    val scores = LangMarkers.map { case (l, ws) => l -> score(ws) }
    val best = scores.tail.foldLeft(scores.head._2)((m, s) => greatest(m, s._2))
    val pick = scores.foldRight(lit("und")) { case ((l, s), els) =>
      when(s === best && best > 0, lit(l)).otherwise(els)
    }
    // NOTE: foldRight gives priority to the FIRST matching language in
    // LangMarkers order (en > es > de > fr) on ties.
    when(c.rlike("[一-鿿]"), lit("zh")).otherwise(pick)
  }

  /** Quality score 0-100: length term (up to 40), stopword-ratio term (up to
    * 30, saturating at ratio 1/3), alphanumeric-char-ratio term (up to 30).
    * Deterministic and SQL-expressible: the counts are those of
    * `size(wsTokens(c))`, `size(filter(wsTokens(c), w -> lower(w) IN
    * stoplist))`, `length(regexp_replace(c, '[^A-Za-z0-9]', ''))` and
    * `length(c)`; same *shape* as the reference's 0-100 answer scores
    * (`app/app.py:90,100`).
    *
    * The four counts come from one compiled pass over the text
    * ([[qualityCounts]]: one whitespace split, no interpreted per-token
    * lambda, no regex rewrite); the double arithmetic and the final
    * `round(…, 2)` stay Spark expressions, so the score is bit-identical to
    * the declarative form. Null text scores null. */
  def qualityScore(c: Column): Column = {
    val counts = qualityCounts(c)
    val nw = counts("_1").cast("double")
    val stopHits = counts("_2").cast("double")
    val alnum = counts("_3").cast("double")
    val total = counts("_4").cast("double")
    val lenTerm = lit(40.0) * least(nw / 100.0, lit(1.0))
    val stopTerm = when(nw === 0, lit(0.0))
      .otherwise(lit(30.0) * least(lit(3.0) * stopHits / nw, lit(1.0)))
    val alnumTerm = when(total === 0, lit(0.0)).otherwise(lit(30.0) * alnum / total)
    round(lenTerm + stopTerm + alnumTerm, 2)
  }

  /** [[qualityScore]]'s per-document counts, in this order: whitespace
    * tokens, stoplist hits among them, ASCII alphanumeric chars, and the
    * length in code points. A stoplist hit is decided by a root-locale
    * `toLowerCase`, as Spark's `lower` does for the stoplist's ASCII
    * letters: the one non-ASCII letter that lower-cases to an ASCII one is
    * the Kelvin sign, to `k`, and no stopword holds a `k`. */
  private val qualityCounts = udf { (s: String) =>
    if (s == null) null
    else {
      val words = WsPattern.split(s).filter(_.nonEmpty)
      val stopHits = words.count(w => StopSet(w.toLowerCase(java.util.Locale.ROOT)))
      var alnum = 0
      var i = 0
      while (i < s.length) {
        val ch = s.charAt(i)
        if ((ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z') || (ch >= '0' && ch <= '9'))
          alnum += 1
        i += 1
      }
      (words.length, stopHits, alnum, s.codePointCount(0, s.length))
    }
  }

  private val StopSet: Set[String] = Stopwords.toSet

  /** Document fingerprint: md5 of the canonicalized text (lowercase, strip
    * non-alphanumerics to spaces, collapse whitespace, trim). Two documents
    * with the same fingerprint are exact dups modulo formatting. */
  def fingerprintMd5(c: Column): Column =
    md5(trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9]+", " "), " +", " ")))

  /** Polynomial rolling hash over whitespace tokens (mod 1e9+7). Order-
    * sensitive: reordered words change the fingerprint, unlike fingerprintMd5
    * after canonicalization. Uses Spark's murmur3 `hash` per token, so this is
    * library-only (no ANSI-SQL oracle); covered by unit tests. */
  def rollingHash(c: Column): Column =
    aggregate(wsTokens(c), lit(0L),
      (h, w) => pmod(h * 1000003L + pmod(hash(w).cast("long"), lit(1000000007L)),
        lit(1000000007L)))

  /** Character-distribution Shannon entropy (nats) per document — the cheap
    * gibberish/encoding-junk signal (random bytes read high, repeated
    * boilerplate reads low) a quality cascade runs before anything
    * tokenizes. One compiled pass per doc (no char explode, no shuffle);
    * the fold visits characters in sorted order so the sum is
    * deterministic, and callers round(4) — the cross-engine double-sum
    * convention. */
  val charEntropy: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (text: String) =>
      if (text == null || text.isEmpty) 0.0
      else {
        val counts = scala.collection.mutable.HashMap.empty[Char, Long]
        text.foreach(ch => counts.update(ch, counts.getOrElse(ch, 0L) + 1L))
        val n = text.length.toDouble
        -counts.toSeq.sortBy(_._1).map { case (_, c) =>
          (c / n) * math.log(c / n)
        }.sum
      }
    }
}
