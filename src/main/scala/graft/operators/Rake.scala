package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** RAKE keyphrase extraction (Rose et al. 2010, "Automatic Keyword
  * Extraction from Individual Documents"): candidate phrases are the
  * maximal stopword-free word runs; each word scores degree/frequency
  * (degree = Σ length of the phrases it appears in — co-occurrence with
  * phrase-mates including itself); a phrase scores the sum of its word
  * scores. Corpus-level: identical phrase texts share one score (word
  * stats are corpus-wide), ranked (score desc, phrase asc).
  *
  * Scale shape: phrase segmentation is ONE compiled UDF pass per document
  * (the `Dedup.shinglesFast` lesson — declarative per-element array exprs
  * interpret per element and were measured 10-20× slower for exactly this
  * sliding/segmentation shape); word stats are two map-side-combinable
  * aggs over exploded phrase words; the word-score table is
  * vocabulary-sized and broadcasts back onto phrase occurrences. Nothing
  * corpus-sized is ever sorted — the final rank is a top-k over the
  * phrase-TYPE table (vocabulary-bounded, like the BPE word-type trick).
  *
  * Determinism/parity: the phrase score sums word scores in PHRASE
  * POSITION order via a sorted collect + left fold (both engines reduce
  * the same doubles in the same sequence — DuckDB replays it as
  * `list_reduce(list(score ORDER BY pos), ...)`), then rounds to 4 — the
  * same cross-engine convention as the k-means/PCA fold oracles.
  */
object Rake {

  /** Maximal stopword-free runs as phrase strings, one compiled pass. */
  def phrasesUdf(stopwords: Set[String]): UserDefinedFunction =
    udf { (text: String) =>
      if (text == null) Array.empty[String]
      else {
        val out = Array.newBuilder[String]
        val cur = new StringBuilder
        var has = false
        text.toLowerCase(java.util.Locale.ROOT).split("\\s+").foreach { w =>
          if (w.isEmpty || stopwords(w)) {
            if (has) { out += cur.result(); cur.clear(); has = false }
          } else {
            if (has) cur.append(' ')
            cur.append(w); has = true
          }
        }
        if (has) out += cur.result()
        out.result()
      }
    }

  /** Top-`k` corpus phrases: (phrase, n_occurrences, score). */
  def topPhrases(docs: DataFrame, textCol: String, stopwords: Seq[String],
                 k: Int): DataFrame = {
    val sw = stopwords.toSet
    val ph = docs
      .select(explode(phrasesUdf(sw)(col(textCol))).as("phrase"))
    val occ = ph.groupBy(col("phrase")).agg(count(lit(1)).as("n_occ"))
    // corpus word stats over phrase occurrences: freq = occurrences,
    // degree = Σ phrase length (the word's own occurrence included)
    val words = ph.select(col("phrase"), explode(split(col("phrase"), " ")).as("w"),
        size(split(col("phrase"), " ")).as("plen"))
    val wstats = words.groupBy(col("w"))
      .agg(count(lit(1)).cast("double").as("freq"), sum(col("plen")).cast("double").as("deg"))
      .select(col("w"), (col("deg") / col("freq")).as("wscore"))
    // phrase-TYPE score: collect the member word scores WITH positions,
    // sort, and fold left — both engines then sum the same doubles in the
    // same sequence (a bare SUM aggregates in partition order, which is
    // engine- and run-dependent at the last ulp).
    val scored = occ
      .withColumn("ws", split(col("phrase"), " "))
      .select(col("phrase"), col("n_occ"), posexplode(col("ws")))
      .join(broadcast(wstats), col("col") === col("w"))
      .groupBy(col("phrase"), col("n_occ"))
      .agg(aggregate(
        sort_array(collect_list(struct(col("pos"), col("wscore")))),
        lit(0.0), (acc, x) => acc + x.getField("wscore")).as("raw"))
      .select(col("phrase"), col("n_occ"), round(col("raw"), 4).as("score"))
    scored.orderBy(col("score").desc, col("phrase")).limit(k)
  }
}
