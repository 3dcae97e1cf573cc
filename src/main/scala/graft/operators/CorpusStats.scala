package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}

/** Corpus observability — the profiling/reporting queries a curation
  * pipeline runs between stages (after ingest, after dedup, after filtering)
  * to know what it is about to train on. All of them are single-shuffle
  * aggregations whose keys are metadata-sized (sources, labels, cluster
  * sizes), so they cost one corpus scan regardless of corpus size.
  */
object CorpusStats {

  /** Per-source one-pass profile: doc counts, token volume, quality and
    * language mix, short-doc share. One projection computes every per-doc
    * metric in a single text pass, then ONE hash aggregation on the
    * source key (map-side partials; key space = number of sources) — the
    * shape that still costs exactly one scan at 100 TB.
    */
  def profile(df: DataFrame, textCol: String, sourceCol: String): DataFrame = {
    val perDoc = df.select(
      col(sourceCol).as("source"),
      TextFunctions.tokenCountWs(col(textCol)).as("n_tok"),
      TextFunctions.qualityScore(col(textCol)).as("quality"),
      TextFunctions.langId(col(textCol)).as("lang"))
    perDoc.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tok").cast("long")).as("n_tokens"),
      round(avg(col("n_tok").cast("double")), 2).as("avg_tokens"),
      round(avg(col("quality")), 2).as("avg_quality"),
      sum(when(col("n_tok") < 20, 1L).otherwise(0L)).as("n_short"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
  }

  /** Cross-source contamination matrix: for every source pair, how many
    * distinct content fingerprints they share. `fingerprint` chooses the
    * granularity — full-document for exact mirrors, a prefix n-gram
    * fingerprint for shared-boilerplate detection (the decontamination
    * fingerprint, [[Decontaminate]]).
    *
    * Shape: distinct (source, fp) pairs (map-side partial), then a
    * fingerprint-keyed self-join — the join key is the 32-char digest, so
    * matches are content-identity, and the join fan-out is bounded by how
    * duplicated a fingerprint is across sources (<= n_sources per side).
    */
  def sourceOverlapMatrix(df: DataFrame, fingerprint: Column,
                          sourceCol: String): DataFrame = {
    val fps = df.select(col(sourceCol).as("source"), fingerprint.as("fp")).distinct()
    fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Cluster-size histogram over a dedup cluster assignment
    * ([[Dedup.connectedComponents]] output): how many near-dup clusters of
    * each size the corpus contains — the number that tells you whether
    * duplication is a long tail of pairs or a few megaclusters (and thus
    * whether keep-best resolution is safe to run). Two metadata-keyed
    * aggregations, both with partials. */
  def clusterSizeHistogram(clusters: DataFrame, idCol: String = "doc_id",
                           clusterCol: String = "cluster_id"): DataFrame =
    clusters.groupBy(col(clusterCol)).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))

  /** Gopher-style per-document quality rules (Rae et al. 2112.11446 §A1.1,
    * the public heuristic battery every LLM curation pipeline reruns):
    * word count, mean word length, unique-word fraction, token-distribution
    * entropy (the repetition/gibberish axis: low = one word repeated, high =
    * word soup), and a stopword-presence check, folded into one boolean
    * verdict per doc.
    *
    * Scale shape: one narrow projection computes the array-local metrics
    * (no shuffle); the entropy needs per-(doc, word) counts — ONE hash
    * aggregation keyed (doc, word) with map-side partials, then a doc-keyed
    * re-aggregation using the identity H = ln N - (Σ c·ln c)/N so no
    * totals join is needed. Nothing here is corpus-global: every key is
    * doc-bounded, so the operator scales linearly with corpus size.
    *
    * Empty docs (0 tokens) keep a row: NULL metrics, verdict false.
    */
  def gopherQuality(df: DataFrame, textCol: String, idCol: String,
                    stopwords: Seq[String], minWords: Int = 50,
                    minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                    minFracUnique: Double = 0.2, minStopwords: Int = 2): DataFrame = {
    val id = col(idCol)
    // coalesce: NULL text must read as an empty doc (size(NULL) is -1)
    val base = df.select(id,
        coalesce(TextFunctions.wsTokens(lower(col(textCol))),
          array().cast("array<string>")).as("ws"))
      .withColumn("n_words", size(col("ws")).cast("long"))
    // per-(doc, word) counts -> doc-keyed entropy; both aggs carry partials
    val ent = base.select(id, explode(col("ws")).as("w"))
      .groupBy(id, col("w")).agg(count(lit(1)).as("c"))
      .groupBy(id)
      .agg(count(lit(1)).as("n_unique"), sum(col("c")).as("n_tot"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("clnc"))
      .select(id, col("n_unique"), col("n_tot"),
        round(log(col("n_tot").cast("double")) - col("clnc") / col("n_tot"), 4)
          .as("token_entropy"))
    val metrics = base.select(id, col("n_words"),
        // total token chars in one builtin pass (array_join) / word count
        when(col("n_words") > 0,
          round(length(array_join(col("ws"), "")).cast("double") / col("n_words"), 4))
          .as("mean_word_len"),
        (size(array_intersect(col("ws"),
          lit(stopwords.toArray))) >= minStopwords).as("has_stopwords"))
      .join(ent, Seq(idCol), "left")
      .withColumn("frac_unique",
        when(col("n_tot") > 0, round(col("n_unique").cast("double") / col("n_tot"), 4)))
    metrics.select(id, col("n_words"), col("mean_word_len"), col("frac_unique"),
      col("token_entropy"), col("has_stopwords"),
      (col("n_words") >= minWords &&
        col("mean_word_len").between(minMeanWordLen, maxMeanWordLen) &&
        col("frac_unique") >= minFracUnique && col("has_stopwords"))
        .as("gopher_pass"))
  }

  /** Source-level similarity via MERGEABLE MinHash sketches: a k-hash
    * signature per source (sig_i = min over the source's shingles of the
    * i-th Kirsch-Mitzenmacher permutation g_i = (h1 + i*h2) mod 2^32, with
    * h1/h2 the halves of ONE md5 per shingle — portable integer-min family,
    * as k min() AGGREGATES so the sketch
    * builds in one corpus pass with map-side partial mins and unions
    * associatively across partitions/batches), then pairwise
    * estimated-vs-exact Jaccard for every source pair.
    *
    * This is the sketch the 100 TB shape needs: per-source state is k
    * longs regardless of corpus size, the pairwise stage runs on
    * #sources-sized tables, and only the exact-Jaccard audit columns touch
    * the distinct-shingle sets — `auditExact = false` IS the registered
    * 100 TB shape (sketch only; nothing corpus-sized crosses the pair
    * join). The gate query keeps the audit ON so the estimate's honesty is
    * oracle-checked at fixture scale. Output: source_a < source_b,
    * jaccard_est (signature agreement rate), jaccard_exact
    * (distinct-shingle Jaccard; audit only).
    */
  def minhashSourceSimilarity(df: DataFrame, textCol: String, sourceCol: String,
                              numHashes: Int = 32, shingleN: Int = 3,
                              auditExact: Boolean = true): DataFrame = {
    require(numHashes > 0 && shingleN > 0)
    // ONE corpus pass: distinct (source, shingle) via a single hash
    // aggregation (map-side partials). Signatures AND the exact audit both
    // derive from this table — the text is exploded exactly once, and the
    // min over distinct shingles equals the min over occurrences.
    // shinglesFast, not the declarative shingles: the transform/slice/
    // array_join lambdas are interpreted per-element and dominated this
    // operator's wall clock (round-5 profile: 7.3s of an 8s query was the
    // shingle expression alone; the UDF form is ~15x cheaper — the same
    // measured tradeoff documented at Dedup.shinglesFast)
    val ds0 = df.select(col(sourceCol).as("source"),
        explode(Dedup.shinglesFast(shingleN)(col(textCol))).as("sh"))
      .distinct()
    // the audit path reads this table three times (sigs, sizes, pair
    // intersection) — materialize once; the sketch-only scale path reads it
    // exactly once, so a checkpoint would be a pure extra materialization
    val ds = if (auditExact) ds0.localCheckpoint() else ds0
    // k-permutation family via Kirsch-Mitzenmacher double hashing: ONE md5
    // per distinct shingle, halves parsed as 32-bit ints, g_i = (h1 + i*h2)
    // mod 2^32. Replaces the k-md5s-per-shingle family (round-4 profile:
    // the digest calls, not the audit join, dominated the sketch build) —
    // same estimator semantics (min per permutation, agreement rate), 32x
    // fewer digests, and the per-source sketch state shrinks from k hex
    // strings to k longs. Products stay < 2^37, so BIGINT arithmetic is
    // exact and the DuckDB replay is bit-identical.
    val withH = ds
      .withColumn("__mh", md5(col("sh")))
      .withColumn("__h1", conv(substring(col("__mh"), 1, 8), 16, 10).cast("long"))
      .withColumn("__h2", conv(substring(col("__mh"), 9, 8), 16, 10).cast("long"))
    val sigCols = (0 until numHashes).map(i =>
      min((col("__h1") + lit(i.toLong) * col("__h2")) % lit(4294967296L)).as(s"m$i"))
    val sigs = withH.groupBy(col("source")).agg(sigCols.head, sigCols.drop(1): _*)
    val agree = (0 until numHashes).map(i =>
        when(col(s"x.m$i") === col(s"y.m$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / numHashes
    val est = sigs.as("x").join(sigs.as("y"), col("x.source") < col("y.source"))
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
        round(agree, 4).as("jaccard_est"))
    if (!auditExact) return est
    val sizes = ds.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    // 8-byte join key for the pair intersection instead of the shingle
    // string (xxhash64 collisions would need two different shingles per
    // source pair colliding — negligible and audit-only)
    val dh = ds.select(col("source"), xxhash64(col("sh")).as("hh"))
    val inter = dh.as("a")
      .join(dh.as("b"), col("a.hh") === col("b.hh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_inter"))
    est
      .join(inter, Seq("source_a", "source_b"), "left")
      .join(sizes.withColumnRenamed("source", "source_a").withColumnRenamed("sz", "sz_a"),
        "source_a")
      .join(sizes.withColumnRenamed("source", "source_b").withColumnRenamed("sz", "sz_b"),
        "source_b")
      .select(col("source_a"), col("source_b"), col("jaccard_est"),
        round(coalesce(col("n_inter"), lit(0L)).cast("double") /
          (col("sz_a") + col("sz_b") - coalesce(col("n_inter"), lit(0L))), 4)
          .as("jaccard_exact"))
  }

  /** Per-group embedding outliers: the k members FARTHEST from their
    * group's centroid under cosine — mislabeled/garbage detection over an
    * embedded corpus ("this doc is nothing like the rest of its class").
    *
    * Scale shape: centroids via [[graft.functions.VectorAvg]] (map-side
    * partial sums — the shuffle carries partitions x groups x dim doubles,
    * never vectors); centroid table is group-count sized, so it BROADCASTS
    * back; the bottom-k per group is the bounded-buffer
    * [[graft.functions.TopKBy]] aggregate fed the negated similarity — no
    * corpus-wide window sort anywhere.
    *
    * Similarity is rounded to 4 BEFORE ranking (ties then break on id
    * ascending) so the ranking is reproducible across engines — the same
    * convention as [[SimilaritySearch]].
    */
  def centroidOutliers(df: DataFrame, vecCol: String, idCol: String,
                       groupCol: String, k: Int): DataFrame = {
    val vectorAvg = udaf(graft.functions.VectorAvg)
    val topk = udaf(graft.functions.TopKBy(k))
    val centroids = df.groupBy(col(groupCol))
      .agg(vectorAvg(col(vecCol)).as("__centroid"))
    val scored = df.join(broadcast(centroids), groupCol)
      .withColumn("__sim",
        round(VectorFunctions.cosineSimilarity(col(vecCol), col("__centroid")), 4))
    scored.groupBy(col(groupCol))
      .agg(topk(-col("__sim"), col(idCol).cast("long")).as("__bottomk"))
      .select(col(groupCol), posexplode(col("__bottomk")))
      .select(col(groupCol), (col("pos") + 1).cast("int").as("rank"),
        col("col._2").as(idCol), (-col("col._1")).as("centroid_sim"))
  }

  /** Count-min sketch over the token stream (Cormode & Muthukrishnan 2005)
    * — the mergeable fixed-size frequency summary behind heavy-hitter
    * tracking when the vocabulary itself is too large to key a shuffle
    * (URL/domain/ngram streams at corpus scale). `depth` independent rows
    * of `width` counters; point estimate = min over rows; estimates NEVER
    * undercount (collisions only add).
    *
    * Hash family: Kirsch-Mitzenmacher g_j = (h1 + j*h2) mod width with
    * (h1, h2) = the two 32-bit halves of md5(token) — the same
    * double-hashing family as [[minhashSourceSimilarity]], chosen so an
    * ANSI oracle replays every bucket exactly.
    *
    * Scale shape: the counter table is the sketch — at most depth x width
    * rows survive the one groupBy (map-side combine collapses each
    * partition to the same bound first: the partial states ARE mergeable
    * CMS rows). The returned frame compares the sketch estimate against
    * the exact count for the exact top-`topN` tokens, so the overcount
    * property is visible in-query; the candidate side is topN x depth rows
    * and broadcasts into the counter join.
    *
    * (The exact `tc` aggregate here shuffles token TYPES — fine for a
    * word vocabulary. The sketch exists for the regime where even that is
    * too wide; production use builds `counters` straight off the token
    * stream with identical arithmetic and skips the exact side.)
    */
  def cmsHeavyHitters(df: DataFrame, textCol: String,
                      topN: Int, depth: Int, width: Int): DataFrame =
    cmsEstimates(df, textCol, cmsCounters(df, textCol, depth, width),
      topN, depth, width)

  /** The CMS counter table itself: (j, bucket, cnt). Built off token-TYPE
    * counts (one explode×depth per vocabulary word, not per occurrence);
    * [[graft.streaming.StreamingOps.cmsCountersOnce]] builds the identical
    * table occurrence-wise as streaming aggregation state — cell-wise
    * addition is the merge law either way. */
  def cmsCounters(df: DataFrame, textCol: String,
                  depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 2)
    val tc = df.select(
        explode(graft.functions.TextFunctions.wsTokens(lower(col(textCol))))
          .as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n_exact"))
    cmsHash(tc)
      .select(col("n_exact"), explode(sequence(lit(0), lit(depth - 1))).as("j"),
        col("__h1"), col("__h2"))
      .withColumn("bucket", (col("__h1") + col("j") * col("__h2")) % width)
      .groupBy(col("j"), col("bucket")).agg(sum(col("n_exact")).as("cnt"))
  }

  /** Estimates vs exact counts for the exact top-`topN` tokens, given any
    * counter table with the [[cmsCounters]] schema (batch- or
    * streaming-built). */
  def cmsEstimates(df: DataFrame, textCol: String, counters: DataFrame,
                   topN: Int, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 2 && topN >= 1)
    val tc = df.select(
        explode(graft.functions.TextFunctions.wsTokens(lower(col(textCol))))
          .as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n_exact"))
    val cand = cmsHash(tc).orderBy(col("n_exact").desc, col("token")).limit(topN)
    broadcast(cand
      .select(col("token"), col("n_exact"),
        explode(sequence(lit(0), lit(depth - 1))).as("j"),
        col("__h1"), col("__h2"))
      .withColumn("bucket", (col("__h1") + col("j") * col("__h2")) % width))
      .join(counters, Seq("j", "bucket"))
      .groupBy(col("token"), col("n_exact"))
      .agg(min(col("cnt")).as("n_cms"))
      .select(col("token"), col("n_exact"), col("n_cms"))
  }

  /** Population stability index between a reference and a current sample
    * of a numeric column — the standard drift monitor a continuously
    * ingesting corpus runs per batch (PSI < 0.1 stable, 0.1-0.25 drifting,
    * > 0.25 shifted). Buckets are `nBuckets` equal-width cuts of the
    * REFERENCE range (current values outside clamp to the edge buckets —
    * out-of-range mass must count as drift, not vanish); both histograms
    * get +0.5 Laplace smoothing so empty buckets stay defined.
    *
    * Scale shape: per side one narrow bucket map + one nBuckets-bounded
    * count agg (map-side combinable); totals re-enter as broadcast 1-row
    * relations; the PSI fold is over nBuckets rows. The only driver values
    * are the two reference bounds (model-sized, Lloyd cadence).
    * Determinism: proportions round to 6, the final sum to 4 (ln is not
    * bit-specified across engines; the grid is 11 orders above the noise).
    */
  /** Pairwise Jensen–Shannon divergence between the term distributions of
    * the `maxKeys` lexicographically-first sources — the bounded symmetric
    * information-theoretic drift measure next to [[psi]]'s bucket PSI:
    * JS(P,Q) = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m), m = (p+q)/2, with 0·ln(0/m)
    * terms contributing zero. js_norm = JS / ln 2 lands in [0,1]
    * (0 = identical distributions, 1 = disjoint support).
    *
    * Scale shape: per-source term proportions are one map-side-combinable
    * count agg; the pair frame is (maxKeys choose 2) × union-vocab rows —
    * bounded by the slice count squared, the audit's own dial, never the
    * corpus. Per-term contributions are gridded to 1e9 and decimal-summed
    * (the chi-square discipline) so the cross-term fold is
    * order-independent despite ln. */
  def jsDivergenceMatrix(df: DataFrame, textCol: String, keyCol: String,
                         maxKeys: Int = 6): DataFrame = {
    require(maxKeys >= 2)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val keys = df.select(col(keyCol).as("__k")).distinct()
      .orderBy(col("__k")).limit(maxKeys)
    val tc = df.join(broadcast(keys), col(keyCol) === col("__k"))
      .select(col("__k"),
        explode(TextFunctions.wsTokens(lower(col(textCol)))).as("term"))
      .groupBy(col("__k"), col("term")).agg(count(lit(1)).as("c"))
    val tot = tc.groupBy(col("__k")).agg(sum(col("c")).as("n"))
    val pt = tc.join(broadcast(tot), "__k")
      .select(col("__k"), col("term"), (col("c") / col("n")).as("p"))
    val ab = keys.select(col("__k").as("source_a"))
      .crossJoin(keys.select(col("__k").as("source_b")))
      .where(col("source_a") < col("source_b"))
    val ta = ab.join(pt.select(col("__k").as("source_a"), col("term"),
      col("p").as("pa")), Seq("source_a"))
    val tb = ab.join(pt.select(col("__k").as("source_b"), col("term"),
      col("p").as("pb")), Seq("source_b"))
    val u = ta.join(tb, Seq("source_a", "source_b", "term"), "full_outer")
    val m = (coalesce(col("pa"), lit(0.0)) + coalesce(col("pb"), lit(0.0))) / 2
    val contrib =
      lit(0.5) * when(col("pa") > 0, col("pa") * log(col("pa") / m)).otherwise(0.0) +
      lit(0.5) * when(col("pb") > 0, col("pb") * log(col("pb") / m)).otherwise(0.0)
    u.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_terms"),
        sum(round(contrib * lit(1e9)).cast(dec)).as("__g"))
      .select(col("source_a"), col("source_b"), col("n_terms"),
        round(col("__g").cast("double") / 1e9, 6).as("js"),
        round(col("__g").cast("double") / 1e9 / lit(0.6931471805599453), 4)
          .as("js_norm"))
  }

  def psi(ref: DataFrame, cur: DataFrame, valueCol: String,
          nBuckets: Int = 10): DataFrame = {
    val (lo, hi) = refBounds(ref, valueCol)
    psiFromCounts(ref, bucketCounts(cur, valueCol, lo, hi, nBuckets),
      valueCol, nBuckets)
  }

  /** Reference min/max — the two driver-side scalars the bucket grid hangs
    * on (model-sized, Lloyd cadence); exposed so a STREAMING current side
    * can bucket with the same grid while the stream runs. */
  private[graft] def refBounds(ref: DataFrame, valueCol: String): (Double, Double) = {
    val r = ref.agg(min(col(valueCol).cast("double")),
      max(col(valueCol).cast("double"))).head()
    val (lo, hi) = (r.getDouble(0), r.getDouble(1))
    require(hi > lo, s"degenerate reference range [$lo, $hi]")
    (lo, hi)
  }

  /** Equal-width reference-grid bucket of a value column (clamped to the
    * edge buckets — out-of-range mass counts as drift, never vanishes). */
  private[graft] def psiBucket(valueCol: String, lo: Double, hi: Double,
                               nBuckets: Int): org.apache.spark.sql.Column =
    least(greatest(floor((col(valueCol).cast("double") - lo) * nBuckets / (hi - lo)),
      lit(0L)), lit((nBuckets - 1).toLong)).cast("int")

  /** (b, n) histogram of a frame under the reference grid — the mergeable
    * per-side state (counts add cell-wise; a streaming complete-mode agg
    * produces exactly this table). */
  private[graft] def bucketCounts(df0: DataFrame, valueCol: String,
                                  lo: Double, hi: Double, nBuckets: Int): DataFrame =
    df0.where(col(valueCol).isNotNull) // null has no bucket
      .select(psiBucket(valueCol, lo, hi, nBuckets).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("n"))

  /** PSI where the CURRENT side arrives as a pre-aggregated (b, n) bucket
    * table (e.g. streaming aggregation state) — the batch [[psi]] is this
    * with the counts built inline. Same smoothing/rounding contract. */
  private[graft] def psiFromCounts(ref: DataFrame, curCounts: DataFrame,
                                   valueCol: String, nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2)
    val spark = ref.sparkSession
    val (lo, hi) = refBounds(ref, valueCol)
    val ids = broadcast(spark.range(nBuckets).select(col("id").cast("int").as("b")))
    def distFromCounts(c: DataFrame, pName: String): DataFrame = {
      val t = c.agg(sum(col("n")).as("t"))
      ids.join(c, Seq("b"), "left")
        .crossJoin(broadcast(t))
        .select(col("b"),
          round((coalesce(col("n"), lit(0L)) + 0.5) / (col("t") + nBuckets * 0.5), 6)
            .as(pName))
    }
    distFromCounts(bucketCounts(ref, valueCol, lo, hi, nBuckets), "p")
      .join(distFromCounts(curCounts, "q"), "b")
      .agg(round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 4).as("psi"))
  }

  /** KM double-hash columns for a frame with a `token` column. */
  private[graft] def cmsHash(tc: DataFrame): DataFrame = tc
    .withColumn("__h1", conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long"))
    .withColumn("__h2", conv(substring(md5(col("token")), 9, 8), 16, 10).cast("long"))

  /** Per-source embedding centroids (double component means rounded to 6 —
    * the KMeans/SemDeDup portability convention; NOT [[graft.functions.VectorAvg]],
    * whose float-cast finish would re-quantize the mean) and the pairwise
    * cosine matrix between them — corpus structure at a glance: which
    * sources cover the same embedding region, the source-level mirror of
    * SemDeDup's within-cluster pruning.
    *
    * Shapes: one (source, component)-keyed partial agg (docs x dim rows
    * reduce map-side to partitions x sources x dim); the pair matrix is
    * model-sized (sources²/2) with the centroid side broadcast; the cosine
    * is the index-order double fold. */
  def sourceCentroidSimilarity(docs: DataFrame, emb: DataFrame,
                               sourceCol: String = "source"): DataFrame = {
    val j = docs.select(col("doc_id"), col(sourceCol).as("src"))
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
    val comp = Dedup.spread(j).select(col("src"), posexplode(col("embedding")))
      .groupBy(col("src"), col("pos"))
      .agg(round(sum(col("col").cast("double")) / count(lit(1)), 6).as("v"))
    val cents = comp.groupBy(col("src"))
      .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("cv"))
      .select(col("src"), transform(col("cv"), x => x.getField("v")).as("c"))
    val b = cents.select(col("src").as("s2"), col("c").as("cb"))
    cents.select(col("src").as("s1"), col("c").as("ca"))
      .join(broadcast(b), col("s1") < col("s2"))
      .select(col("s1"), col("s2"),
        round(graft.functions.VectorFunctions
          .cosineSimilarityHof(col("ca"), col("cb")), 4).as("cos_sim"))
  }

  /** Positional adjacent-word bigrams with multiplicity (NOT the distinct
    * shingle set — PMI needs counts). Compiled one-pass UDF per doc, the
    * [[Dedup.shinglesFast]] lesson: the declarative transform/slice twin is
    * interpreted per-element and ~20x slower on the shingle hot path. */
  private val adjacentBigrams = org.apache.spark.sql.functions.udf { (text: String) =>
    if (text == null) Array.empty[String]
    else {
      val ws = text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
      if (ws.length < 2) Array.empty[String]
      else ws.sliding(2).map(_.mkString(" ")).toArray
    }
  }

  /** PMI-scored collocations (top-`topN` adjacent word pairs by pointwise
    * mutual information) — the classic corpus-statistics signal for
    * multiword expressions, tokenizer-vocabulary candidates, and boilerplate
    * detection in a training-data pipeline.
    *
    * pmi(x,y) = ln( (c_xy / B) / ((c_x / U) * (c_y / U)) ) with U = total
    * unigram tokens, B = total adjacent pairs (sum over docs of
    * max(n_tokens - 1, 0)); pairs below `minCount` are cut (PMI's
    * low-frequency pathology). round(4) — both engines run the identical
    * expression tree, ln() last-ulp lands 11 orders below the grid.
    *
    * Scale shape: unigram and bigram counts are map-side-combinable
    * hash aggs over narrow exploded streams; U and B are 1-row broadcast
    * relations; the unigram join side is vocabulary-sized (broadcast);
    * top-N is TakeOrdered (per-partition k + driver merge), never a full
    * sort. */
  def pmiCollocations(df: DataFrame, textCol: String,
                      minCount: Long = 5, topN: Int = 20): DataFrame = {
    val spreadDocs = Dedup.spread(df)
    val toks = spreadDocs.select(
      explode(graft.functions.TextFunctions.wsTokens(lower(col(textCol)))).as("w"))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("c_w"))
    val totals = spreadDocs.select(
        size(graft.functions.TextFunctions.wsTokens(lower(col(textCol)))).cast("long").as("n"))
      .agg(sum(col("n")).cast("double").as("u_total"),
        sum(greatest(col("n") - 1, lit(0L))).cast("double").as("b_total"))
    val bi = spreadDocs.select(explode(adjacentBigrams(col(textCol))).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c_xy"))
      .where(col("c_xy") >= minCount)
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .withColumn("w2", element_at(split(col("bg"), " "), 2))
    bi.join(broadcast(uni.select(col("w").as("w1"), col("c_w").as("c_x"))), Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("c_w").as("c_y"))), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c_xy"),
        round(log((col("c_xy") / col("b_total")) /
          ((col("c_x") / col("u_total")) * (col("c_y") / col("u_total")))), 4).as("pmi"))
      .orderBy(desc("pmi"), col("w1"), col("w2"))
      .limit(topN)
  }
}
