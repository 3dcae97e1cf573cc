package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Lexical ranked retrieval — BM25 scoring, a sharded inverted index, and
  * reciprocal-rank fusion for hybrid (lexical + vector) search.
  *
  * The reference is a pure vector-search engine (cosine over embeddings,
  * `/root/reference/modules/utilities.py:368-401`); production search over
  * the same data almost always pairs that with a lexical BM25 ranker and
  * fuses the two lists (hybrid search). This module supplies the lexical
  * half and the fusion, Spark-first:
  *
  *  - term statistics are plain map-side-combinable aggregations (tf on
  *    (doc, term), df on the collapsed frame) — never a corpus-wide window;
  *  - corpus constants (N, avgdl) are 1-row broadcast relations;
  *  - the query-term filter is applied to the token stream BEFORE the tf
  *    shuffle, so a q-term query shuffles only rows for those q terms, not
  *    the whole token stream;
  *  - top-k uses the bounded-buffer [[graft.functions.TopKBy]] aggregate
  *    (partitions x k shuffle rows, no full sort).
  */
object Bm25 {

  /** Sharded inverted index: one row per (term, doc-shard) with aligned,
    * doc-id-sorted posting arrays (`doc_ids[i]` has term frequency
    * `tfs[i]`).
    *
    * Sharding is the 100 TB design point: a single-row-per-term index makes
    * a stopword's posting list one giant cell (unbounded row size, one hot
    * reducer). With `doc_id % nShards` sharding, row width is bounded by
    * shard size, hot terms spread over `nShards` reducers, and a
    * conjunctive query still co-locates — shard s of term A only ever
    * intersects shard s of term B, so posting intersection is a same-key
    * join with no re-shuffle. */
  def postings(df: DataFrame, textCol: String, idCol: String,
               nShards: Int = 4): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val toks = Dedup.spread(df).select(col(idCol).cast("long").as("doc_id"),
      explode(TextFunctions.wsTokens(lower(col(textCol)))).as("term"))
    val tf = toks.groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
    tf.withColumn("shard", pmod(col("doc_id"), lit(nShards.toLong)).cast("int"))
      .groupBy(col("term"), col("shard"))
      // struct sort order = (doc_id, tf) lexicographic = doc_id order
      // (doc_id is unique per term), so both arrays come out doc-id-sorted.
      .agg(count(lit(1)).cast("long").as("df_shard"),
        array_sort(collect_list(struct(col("doc_id"), col("tf")))).as("p"))
      .select(col("term"), col("shard"), col("df_shard"),
        transform(col("p"), x => x.getField("doc_id")).as("doc_ids"),
        transform(col("p"), x => x.getField("tf")).as("tfs"))
  }

  /** Exact phrase match via positional postings: occurrences of
    * `phrase`'s terms at consecutive token positions. The token stream is
    * pruned to the query's terms BEFORE any join (the same
    * query-prunes-the-stream law as [[topK]]), then each subsequent term
    * joins on `(doc_id, pos - offset)` — an equi-join chain on
    * position-aligned keys, each step's size bounded by the rarest term's
    * postings. Returns one row per occurrence `(doc_id, start_pos)`.
    */
  def phraseMatch(df: DataFrame, textCol: String, idCol: String,
                  phrase: Seq[String]): DataFrame = {
    require(phrase.size >= 2, "phrase needs at least 2 terms")
    val toks = Dedup.spread(df)
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(TextFunctions.wsTokens(lower(col(textCol)))))
      .withColumnRenamed("col", "term")
      .where(col("term").isin(phrase.distinct: _*))
    val first = toks.where(col("term") === phrase.head)
      .select(col("doc_id"), col("pos"))
    phrase.zipWithIndex.tail.foldLeft(first) { case (acc, (t, i)) =>
      acc.join(toks.where(col("term") === t)
        .select(col("doc_id"), (col("pos") - i).as("pos")), Seq("doc_id", "pos"))
    }.select(col("doc_id"), col("pos").as("start_pos"))
  }

  /** BM25 top-k for one keyword query.
    *
    * Per matched (doc, term): idf = ln(1 + (N - df + 0.5) / (df + 0.5))
    * (always > 0), tf part = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl));
    * doc score = round(sum of contributions, 4). Every component is plain
    * double arithmetic an ANSI oracle replays; the cross-term sum is the
    * only order-sensitive step and the round(4) absorbs summation-order
    * ulps (the repo-wide convention for cross-row double sums).
    *
    * Output: (q_id, doc_id, score, rank) with tiebreak (score desc, doc_id
    * asc) — `q_id` tags the query so batch callers can union.
    *
    * Scale note: this is the INDEX-FREE form — tf, df, and the corpus
    * constants each derive from the corpus scan (Catalyst does not share
    * the subplans, so the table is read up to 3x, column-pruned). A
    * serving deployment binds df/N/avgdl from the prebuilt [[postings]]
    * index (where they are one broadcast lookup) and scans nothing but the
    * query terms' posting rows; the scan-based form exists so the whole
    * computation stays one declarative, oracle-replayable plan. */
  /** The tokenized (doc_id, toks, dl) frame every BM25 scoring pass reads.
    * Exposed so multi-round flows (pseudo-relevance feedback, fuzzy
    * expansion) share one definition across rounds. Sharing it LAZILY is
    * usually right: measured at sf0.1, re-running the codegen'd tokenizer
    * per plan branch beat localCheckpointing the corpus-sized token arrays
    * by ~10% — materialize only when a caller's round count is large
    * enough to amortize the serialization. */
  def prepare(df: DataFrame, textCol: String, idCol: String): DataFrame =
    Dedup.spread(df).select(col(idCol).cast("long").as("doc_id"),
        TextFunctions.wsTokens(lower(col(textCol))).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))

  def topK(df: DataFrame, textCol: String, idCol: String,
           queryTerms: Seq[String], k: Int = 10, qId: Long = 0L,
           k1: Double = 1.2, b: Double = 0.75): DataFrame =
    topKPrepared(prepare(df, textCol, idCol), queryTerms, k, qId, k1, b)

  /** [[topK]] over an already-[[prepare]]d frame. */
  def topKPrepared(docs: DataFrame,
                   queryTerms: Seq[String], k: Int = 10, qId: Long = 0L,
                   k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.forall(t => t == t.toLowerCase(java.util.Locale.ROOT)),
      "queryTerms must be lowercase (the token stream is lowercased)")
    // corpus constants: one partial-aggregated row, broadcast back in
    val stats = docs.agg(count(lit(1)).cast("double").as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    // prune the token stream to query terms BEFORE the (doc, term) shuffle
    val toks = docs.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .where(col("term").isInCollection(queryTerms))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"), first(col("dl")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df_t"))
    val scored = tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl") / col("n_docs"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df_t") + 0.5) / (col("df_t") + 0.5)))
      .withColumn("contrib",
        col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(round(sum(col("contrib")), 4).as("similarity"))
      .withColumn("q_id", lit(qId))
    SimilaritySearch.topKPerQuery(perDoc, k, "q_id", "doc_id")
      .select(col("q_id"), col("doc_id"),
        col("similarity").as("score"), col("rank"))
  }

  /** [[topKPrepared]] over an already-EXPLODED token stream `(doc_id, dl,
    * term)` and a precomputed corpus-stats frame `(n_docs, sum_dl)` — for
    * callers that run SEVERAL scoring rounds over one corpus (the PRF
    * query): one tokenization is materialized and every round's pruned
    * aggregate reads it, instead of re-running the split/lower/explode
    * chain per round. Arithmetic is identical to [[topKPrepared]]. */
  def topKTokens(toks: DataFrame, stats: DataFrame,
                 queryTerms: Seq[String], k: Int = 10, qId: Long = 0L,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.forall(t => t == t.toLowerCase(java.util.Locale.ROOT)),
      "queryTerms must be lowercase (the token stream is lowercased)")
    val pruned = toks.where(col("term").isInCollection(queryTerms))
    val tf = pruned.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"), first(col("dl")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df_t"))
    val scored = tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl") / col("n_docs"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df_t") + 0.5) / (col("df_t") + 0.5)))
      .withColumn("contrib",
        col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(round(sum(col("contrib")), 4).as("similarity"))
      .withColumn("q_id", lit(qId))
    SimilaritySearch.topKPerQuery(perDoc, k, "q_id", "doc_id")
      .select(col("q_id"), col("doc_id"),
        col("similarity").as("score"), col("rank"))
  }

  /** Expand query terms to every vocabulary term within `maxDist` edits —
    * typo tolerance for the lexical path ("sprak" still finds "spark").
    * The vocabulary is model-sized (distinct tokens), so the expansion is
    * a broadcast nested-loop over |terms| x |vocab| TINY rows, never the
    * corpus; the result feeds [[topK]]-style scoring as a term set.
    * Returns the distinct matched vocabulary terms. */
  def fuzzyExpandTerms(df: DataFrame, textCol: String,
                       queryTerms: Seq[String], maxDist: Int = 1): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val vocab = Dedup.spread(df)
      .select(explode(TextFunctions.wsTokens(lower(col(textCol)))).as("term"))
      .distinct()
    val qs = queryTerms.map(q => lit(q.toLowerCase(java.util.Locale.ROOT)).as("q"))
    vocab.select(col("term"), explode(array(qs: _*)).as("q"))
      .where(levenshtein(col("term"), col("q")) <= maxDist)
      .select(col("term")).distinct()
  }

  /** [[topK]] with the query-term filter taken from a (small) term frame
    * instead of a literal list — the fuzzy-search composition point. */
  def topKTermFrame(df: DataFrame, textCol: String, idCol: String,
                    terms: DataFrame, k: Int = 10, qId: Long = 0L,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val docs = prepare(df, textCol, idCol)
    val stats = docs.agg(count(lit(1)).cast("double").as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    val toks = docs.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(terms.select(col("term")).distinct()), Seq("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"), first(col("dl")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df_t"))
    val scored = tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl") / col("n_docs"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df_t") + 0.5) / (col("df_t") + 0.5)))
      .withColumn("contrib",
        col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(round(sum(col("contrib")), 4).as("similarity"))
      .withColumn("q_id", lit(qId))
    SimilaritySearch.topKPerQuery(perDoc, k, "q_id", "doc_id")
      .select(col("q_id"), col("doc_id"),
        col("similarity").as("score"), col("rank"))
  }

  /** Doc-length norms table (doc_id, dl) — the side table a BM25 index
    * build persists next to [[postings]] (real engines store document
    * norms separately from the inverted lists). Narrow one-pass build. */
  def docNorms(df: DataFrame, textCol: String, idCol: String): DataFrame =
    Dedup.spread(df).select(col(idCol).cast("long").as("doc_id"),
      size(TextFunctions.wsTokens(lower(col(textCol)))).cast("double").as("dl"))

  /** BM25 scored FROM the prebuilt index — the serving form: only the
    * query terms' posting rows are read (the term predicate prunes the
    * index scan; nothing re-tokenizes), df = sum of df_shard over the
    * term's shards, dl from the norms table, corpus constants from one
    * norms aggregation. CONTRACT: bit-identical output to the scan-based
    * [[topK]] (the gate shares its oracle), so the index path can never
    * drift from the definition. */
  def topKFromPostings(postingsIdx: DataFrame, norms: DataFrame,
                       queryTerms: Seq[String], k: Int = 10, qId: Long = 0L,
                       k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.forall(t => t == t.toLowerCase(java.util.Locale.ROOT)),
      "queryTerms must be lowercase (the index is built lowercased)")
    val stats = norms.agg(count(lit(1)).cast("double").as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    val qp = postingsIdx.where(col("term").isInCollection(queryTerms))
    val dfreq = qp.groupBy(col("term"))
      .agg(sum(col("df_shard")).cast("double").as("df_t"))
    val tf = qp.select(col("term"),
        explode(arrays_zip(col("doc_ids"), col("tfs"))).as("z"))
      .select(col("term"), col("z.doc_ids").as("doc_id"),
        col("z.tfs").cast("double").as("tf"))
    val scored = tf.join(norms, "doc_id")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl") / col("n_docs"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df_t") + 0.5) / (col("df_t") + 0.5)))
      .withColumn("contrib",
        col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(round(sum(col("contrib")), 4).as("similarity"))
      .withColumn("q_id", lit(qId))
    SimilaritySearch.topKPerQuery(perDoc, k, "q_id", "doc_id")
      .select(col("q_id"), col("doc_id"),
        col("similarity").as("score"), col("rank"))
  }

  /** String-keyed BM25 top-k — the facade path, where index row keys are
    * sha1 STRINGS ([[graft.operators.IndexTable]] P5 keys). Identical
    * statistics to [[topK]]; the bounded cut runs TopKBy on a xxhash64
    * surrogate of the key (numeric, so the partial-agg buffer applies) and
    * the original string ids join back on the k-bounded result. Tie-break
    * under equal scores follows the surrogate hash rather than the string
    * id — an arbitrary-but-deterministic total order, fine for serving
    * (the oracle-gated [[topK]] keeps the id order contract). */
  def topKStringIds(df: DataFrame, textCol: String, idCol: String,
                    queryTerms: Seq[String], k: Int = 10,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.forall(t => t == t.toLowerCase(java.util.Locale.ROOT)),
      "queryTerms must be lowercase (the token stream is lowercased)")
    val docs = Dedup.spread(df).select(col(idCol).cast("string").as("__sid"),
        TextFunctions.wsTokens(lower(col(textCol))).as("toks"))
      .withColumn("__surr", xxhash64(col("__sid")))
      .withColumn("dl", size(col("toks")).cast("double"))
    val stats = docs.agg(count(lit(1)).cast("double").as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    val toks = docs.select(col("__surr"), col("dl"), explode(col("toks")).as("term"))
      .where(col("term").isInCollection(queryTerms))
    val tf = toks.groupBy(col("__surr"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"), first(col("dl")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df_t"))
    val scored = tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl") / col("n_docs"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df_t") + 0.5) / (col("df_t") + 0.5)))
      .withColumn("contrib",
        col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
    val perDoc = scored.groupBy(col("__surr"))
      .agg(round(sum(col("contrib")), 4).as("similarity"))
      .withColumn("q_id", lit(0L))
    val cut = SimilaritySearch.topKPerQuery(perDoc, k, "q_id", "__surr")
    cut.join(broadcast(docs.select(col("__surr"), col("__sid"))), Seq("__surr"))
      .select(col("__sid").as(idCol), col("similarity").as("score"), col("rank"))
  }

  /** BM25 top-k keyed on the store's natural business key
    * (document_path, page_number) with a fully PORTABLE total order —
    * round-12's oracle-replayable lexical cut behind
    * [[graft.GraftVectorStore.searchHybrid]]. [[topKStringIds]] cuts with
    * TopKBy on a xxhash64 surrogate, which decides boundary ties by an
    * engine-specific hash; here ties order by (score desc, path asc, page
    * asc) end to end, so an ANSI oracle replays the cut CONTENT too.
    *
    * Scale shape: the heavy cut is still bounded — TopKBy finds the k-th
    * score VALUE (a statistic of the score multiset, surrogate-
    * independent), a broadcast threshold filter keeps k + boundary-ties
    * rows, and only that bounded frame pays the ordering window. Two
    * passes over the term-pruned token stream; the slice behind it is the
    * facade's cached serving slice. */
  def topKPathPage(df: DataFrame, textCol: String, pathCol: String,
                   pageCol: String, queryTerms: Seq[String], k: Int = 10,
                   k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.forall(t => t == t.toLowerCase(java.util.Locale.ROOT)),
      "queryTerms must be lowercase (the token stream is lowercased)")
    val docs = Dedup.spread(df).select(col(pathCol).as("__path"),
        col(pageCol).as("__page"),
        TextFunctions.wsTokens(lower(col(textCol))).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    val stats = docs.agg(count(lit(1)).cast("double").as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    val toks = docs.select(col("__path"), col("__page"), col("dl"),
        explode(col("toks")).as("term"))
      .where(col("term").isInCollection(queryTerms))
    val tf = toks.groupBy(col("__path"), col("__page"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"), first(col("dl")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df_t"))
    val scored = tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl") / col("n_docs"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df_t") + 0.5) / (col("df_t") + 0.5)))
      .withColumn("contrib",
        col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
    val perDoc = scored.groupBy(col("__path"), col("__page"))
      .agg(round(sum(col("contrib")), 4).as("score"))
      .localCheckpoint() // two consumers: the threshold cut and the filter
    // k-th score VALUE via the bounded-buffer cut (surrogate order cannot
    // change a score statistic), then boundary-INCLUSIVE filter + window
    val thr = SimilaritySearch.topKPerQuery(
        perDoc.withColumn("q_id", lit(0L))
          .withColumn("similarity", col("score"))
          .withColumn("__surr", xxhash64(col("__path"), col("__page"))),
        k, "q_id", "__surr")
      .agg(min(col("similarity")).as("__thr"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("score"), asc("__path"), asc("__page"))
    perDoc.crossJoin(broadcast(thr))
      .where(col("score") >= col("__thr")) // k + boundary-ties rows
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("__path").as(pathCol), col("__page").as(pageCol),
        col("score"), col("rank"))
  }

  /** Reciprocal-rank fusion of two ranked lists (Cormack et al.): score =
    * 1/(c + rank_a) + 1/(c + rank_b), a list contributing 0 where the doc is
    * absent. Rank-based, so the two lists' score scales never need
    * calibration — the standard hybrid-search combiner.
    *
    * Both inputs are top-k lists (k-bounded), so the fusion join is
    * broadcast-sized by construction regardless of corpus size. The two
    * reciprocals are summed in a fixed (a then b) order and rounded to 6 —
    * bit-replayable cross-engine. */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String, rankCol: String = "rank",
              c: Int = 60, k: Int = 10): DataFrame = {
    val fa = a.select(col(idCol).as("id"), col(rankCol).cast("double").as("ra"))
    val fb = b.select(col(idCol).as("id"), col(rankCol).cast("double").as("rb"))
    val fused = fa.join(fb, Seq("id"), "full_outer")
      .select(col("id"),
        round(
          coalesce(lit(1.0) / (lit(c.toDouble) + col("ra")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(c.toDouble) + col("rb")), lit(0.0)),
          6).as("similarity"))
      .withColumn("q_id", lit(0L))
    SimilaritySearch.topKPerQuery(fused, k, "q_id", "id")
      .select(col("id").as(idCol), col("similarity").as("rrf_score"), col("rank"))
  }
}
