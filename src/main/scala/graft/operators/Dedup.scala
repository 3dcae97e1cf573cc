package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructType}

import graft.functions.TextFunctions

/** Deduplication operator family for the large-scale training-data pipeline.
  * The reference dedups implicitly — its sha1 row key makes Redis HSET
  * overwrite identical (path, page) records (reference
  * `modules/utilities.py:344,304-309`); here dedup is a first-class set of
  * operators, each designed around its shuffle profile at 100 TB.
  *
  * Most hash primitives are engine-portable (md5 hex strings + string min),
  * so those variants are expressible in ANSI SQL for the DuckDB oracle. The
  * MinHash batch path ([[minhashSignatures]]) is the exception: MinHash
  * needs a min-wise family, not a cryptographic one, so it hashes each
  * shingle once with XXH64, carries a doc's shingles as its ascending
  * distinct 64-bit hashes, verifies pairs by a merge of those arrays and
  * keys its band buckets on longs. The md5 MinHash form
  * ([[minhashSignature]], [[lshBandKeys]], [[minhashBandKeysFast]]) stays
  * as the reference the oracle replays; its frames carry shingle strings,
  * which still verify by set. Both forms take the same pair stage
  * ([[minhashNearDupPairsFromSigs]]): one RDD lineage over the decoded
  * signature rows, a bucket count and a bucket verify, with no Catalyst
  * planning per stage.
  */
object Dedup {

  /** Spread a (possibly single-file, single-partition) input across the
    * cluster before compute-heavy fan-out. A small-file parquet scan yields
    * ONE input partition, serializing the whole explode/join map stage onto
    * one task; this one cheap shuffle of the narrow input buys full
    * parallelism for the expensive stage after it. At real 100 TB scale
    * inputs arrive already partitioned and this is a no-op cost-wise. */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Exact dedup: canonical-text fingerprint -> keep the lowest-id row per
    * fingerprint. One hash-partition shuffle on the fingerprint; map-side
    * partial aggregation via min_by. At 100 TB this is the cheapest possible
    * exact dedup (no sort, no window). */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fp = TextFunctions.fingerprintMd5(col(textCol))
    df.withColumn("fingerprint", fp)
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
  }

  /** Exact dedup that keeps the surviving ROWS (lowest id per content
    * fingerprint), not just their ids: one shuffle via map-side-partial
    * `min_by` over the full row struct — no join-back against the corpus,
    * which at 100 TB would be a second corpus-wide shuffle. */
  def exactKeepRows(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val row = struct(df.columns.toIndexedSeq.map(col): _*)
    df.groupBy(TextFunctions.fingerprintMd5(col(textCol)).as("__fp"))
      .agg(min_by(row, col(idCol)).as("__r"))
      .select(col("__r.*"))
  }

  /** INCREMENTAL exact dedup — how production dedup actually runs: each
    * day's batch is deduped (a) within itself (keep lowest id per content
    * fingerprint) and (b) against the accumulated fingerprint store of
    * everything already ingested. Returns the surviving rows plus their
    * `fingerprint` column so the caller can append it to the seen store —
    * the loop that keeps the store current.
    *
    * Scale shape: within-batch dedup is [[exactKeepRows]]'s one min_by
    * shuffle; the history check is a hash anti-join on the 32-char
    * fingerprint. The seen store at 100 TB is corpus-sized — no broadcast
    * assumption; when the batch is small relative to history, pre-filter
    * with a Bloom filter built over `seenFps`
    * ([[Decontaminate.contaminatedViaBloom]] pattern: no false negatives,
    * so the anti-join stays exact) to skip the full history shuffle. */
  def incrementalExact(newDf: DataFrame, textCol: String, idCol: String,
                       seenFps: DataFrame): DataFrame = {
    val batch = exactKeepRows(newDf, textCol, idCol)
      .withColumn("fingerprint", TextFunctions.fingerprintMd5(col(textCol)))
    batch.join(seenFps.toDF("__seen"),
      col("fingerprint") === col("__seen"), "left_anti")
  }

  /** Exact duplicated-SPAN removal — sub-document dedup in the style of
    * Lee et al., "Deduplicating Training Data Makes Language Models Better"
    * (exact-substring dedup): any word span covered by an `n`-gram that
    * occurs in >= `minDocs` DISTINCT documents is cut from every document
    * containing it; the surviving words are reassembled in order. This is
    * the operator that removes boilerplate (licenses, navigation chrome,
    * quoted headers) that document-level dedup cannot touch because the
    * surrounding text differs.
    *
    * Semantics pinned for the oracle: tokens are whitespace-split (no case
    * folding — spans are removed from the text, so the unit must be the
    * text's own words); a position p is covered iff some duplicated n-gram
    * starts in [p-n+1, p]; ALL copies are cut (including the "first") —
    * keep-one-copy policies compose via [[exactKeepRows]] upstream. Output:
    * one row per input row with `n_removed` and the cleaned text.
    *
    * Scale shape (the suffix-array original is a single-machine design;
    * this is the shuffle-native equivalent): per-doc gram fingerprints are a
    * narrow map (md5 of each n-gram, position-indexed array — no token
    * explosion); the corpus-wide duplicate set is ONE hash shuffle on the
    * 16-byte gram key (count distinct docs) + a semi-join back on the same
    * key (co-partitioned, AQE-friendly); covered positions are collected
    * per doc (shuffle carries only duplicated START offsets, a sliver of
    * the corpus) and the final cut is a declarative index-filter lambda on
    * the token array — the full text is never exploded to (doc, pos, word)
    * rows. */
  def removeDuplicatedSpans(df: DataFrame, textCol: String, idCol: String,
                            n: Int = 8, minDocs: Int = 2): DataFrame = {
    val toks = TextFunctions.wsTokens(col(textCol))
    val k = size(toks) - (n - 1)
    val grams = when(k < 1, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), k),
        i => md5(array_join(slice(toks, i, lit(n)), " "))))
    val withGrams = spread(df).withColumn("__toks", toks)
      .withColumn("__grams", grams)
    val starts = withGrams
      .select(col(idCol), posexplode(col("__grams")).as(Seq("__p0", "__gram")))
      .select(col(idCol), (col("__p0") + 1).as("__start"), col("__gram"))
    val dupGrams = starts.groupBy(col("__gram"))
      .agg(count_distinct(col(idCol)).as("__nd"))
      .where(col("__nd") >= minDocs)
      .select(col("__gram"))
    val dupStarts = starts.join(dupGrams, Seq("__gram"), "left_semi")
      .groupBy(col(idCol))
      .agg(collect_set(col("__start")).as("__starts"))
    val covered = array_distinct(flatten(transform(col("__starts"),
      s => sequence(s, s + (n - 1)))))
    withGrams.join(dupStarts, Seq(idCol), "left")
      .withColumn("__cov", coalesce(covered, array().cast("array<int>")))
      .withColumn("__kept", filter(col("__toks"),
        (_, i) => !array_contains(col("__cov"), i + 1)))
      .withColumn("n_removed",
        (size(col("__toks")) - size(col("__kept"))).cast("int"))
      .withColumn("text_clean", array_join(col("__kept"), " "))
      .drop("__toks", "__grams", "__starts", "__cov", "__kept")
  }

  /** Word n-gram shingles as a compact UDF — the dedup hot path. The
    * declarative twin [[shingles]] computes the identical set through
    * `transform`/`slice`/`array_join`, but those lambdas are interpreted
    * per-element: measured 9.4s vs ~0.5s at 5000 docs. One scalar UDF over
    * the raw text is the pragmatic choice here (same tradeoff call as the
    * embedder, SURVEY.md §7.4); both forms are cross-checked in tests. */
  def shinglesFast(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (text: String) =>
      if (text == null) Array.empty[String]
      else {
        val ws = text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
        if (ws.length < n) Array.empty[String]
        else ws.sliding(n).map(_.mkString(" ")).toArray.distinct
      }
    }

  /** Word n-gram shingles (distinct, order preserved by first occurrence
    * irrelevant — set semantics). */
  def shingles(text: Column, n: Int = 2): Column = {
    val words = TextFunctions.wsTokens(lower(text))
    val k = size(words) - (n - 1)
    // NB: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not empty —
    // guard the short-text case explicitly.
    when(k < 1, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(sequence(lit(1), k),
          i => array_join(slice(words, i, lit(n)), " "))))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003,
    * §3 — the MOSS algorithm): hash every positional word `gram`-gram, then
    * slide a `window` over the hash sequence and keep each window's minimum
    * (rightmost on ties). Guarantees: any shared substring of length >=
    * gram + window - 1 words yields at least one shared fingerprint
    * (detection floor), while selecting only ~2/(window+1) of all grams —
    * the density/guarantee dial for substring-level near-dup detection
    * that per-doc MinHash (whole-doc set semantics) can't give.
    *
    * Hash = first 8 md5 hex digits as an unsigned 32-bit value — the same
    * digest-prefix family as the sketch ops, so an ANSI oracle replays every
    * selection. One compiled pass per document (the [[shinglesFast]]
    * lesson: per-element declarative md5 is interpreted and ~10x slower);
    * entirely narrow — selected (pos, fp) pairs explode to rows and any
    * downstream join buckets on fp. Docs with fewer than
    * gram + window - 1 words emit nothing (no full window exists). */
  def winnowFingerprints(df: DataFrame, textCol: String, idCol: String,
                         gram: Int = 3, window: Int = 4): DataFrame = {
    require(gram >= 1 && window >= 1)
    val f = udf { (text: String) =>
      if (text == null) Array.empty[(Int, Long)]
      else {
        val ws = text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
        val n = ws.length - gram + 1
        if (n < window) Array.empty[(Int, Long)]
        else {
          val md = java.security.MessageDigest.getInstance("MD5")
          val hs = Array.tabulate(n) { i =>
            val d = md.digest(ws.slice(i, i + gram).mkString(" ").getBytes("UTF-8"))
            ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
              ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
          }
          val out = scala.collection.mutable.LinkedHashSet.empty[(Int, Long)]
          var j = 0
          while (j <= n - window) {
            var best = j
            var k = j + 1
            while (k < j + window) {
              if (hs(k) <= hs(best)) best = k // <=: rightmost minimum on ties
              k += 1
            }
            out += ((best, hs(best)))
            j += 1
          }
          out.toArray.sorted
        }
      }
    }
    df.select(col(idCol), explode(f(col(textCol))).as("sel"))
      .select(col(idCol), col("sel._1").as("pos"), col("sel._2").as("fp"))
  }

  /** Candidate near-dup pairs from shared winnowing fingerprints — the
    * join [[winnowFingerprints]] exists to feed: docs sharing >=
    * `minShared` selected fingerprints are candidates (any shared run of
    * gram+window-1 words guarantees a shared fp, so recall for long
    * overlaps is structural, not probabilistic). The join keys on `fp` —
    * selected-fingerprint buckets, ~2/(window+1) the density of a full
    * gram join — and the pair agg counts distinct shared fps. Hot
    * fingerprints (boilerplate) are the skew risk at corpus scale:
    * `maxFpFreq` drops fps shared by more than that many docs before the
    * pair join (the standard stop-gram cut; dropped fps can only LOWER
    * the shared count, never invent a pair). */
  def winnowCandidatePairs(df: DataFrame, textCol: String, idCol: String,
                           gram: Int = 3, window: Int = 4,
                           minShared: Int = 2,
                           maxFpFreq: Int = 1000): DataFrame = {
    val fps = winnowFingerprints(df, textCol, idCol, gram, window)
      .select(col(idCol).as("id"), col("fp")).distinct()
    val freqOk = fps.groupBy(col("fp")).agg(count(lit(1)).as("__n"))
      .where(col("__n") <= maxFpFreq).select(col("fp"))
    val kept = fps.join(freqOk, "fp")
    val a = kept.select(col("fp"), col("id").as("id1"))
    val b = kept.select(col("fp"), col("id").as("id2"))
    a.join(b, Seq("fp")).where(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** MinHash signature: sig_i = min over shingles of md5(shingle || '#' || i).
    * A string-min hash family — portable across engines (md5 + lexicographic
    * min are identical everywhere), order-independent, deterministic. This
    * is the form the DuckDB oracle replays; the batch path
    * ([[minhashSignatures]]) uses the XXH64 family instead. */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(shingleCol, s => md5(concat(s, lit("#"), i.cast("string"))))))

  /** LSH band keys: hash each band (contiguous rows of the signature) to one
    * bucket key. Docs sharing ANY band key are candidate near-dups. */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => md5(concat_ws(",", slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)))))

  /** The md5 signature + band keys in ONE narrow per-document pass: the
    * compiled form of the family the DuckDB oracle replays, run by the
    * harness cells that replay it and by the streaming bucket table. The
    * batch path ([[minhashSignatures]]) does not use it: one MD5 per
    * shingle per hash was its largest cost, and MinHash needs no
    * cryptographic family.
    * Bit-identical to [[minhashSignature]] + [[lshBandKeys]]: per hash i the
    * minimum of md5(shingle || '#' || i) under lexicographic hex order — which
    * equals unsigned-byte order on the raw 16-byte digests, so the mins are
    * tracked on raw digests and hex-encoded once at the end. Replaces an
    * explode(shingles) + numHashes-way min-aggregate shuffle with zero
    * shuffles: at 100 TB the signature stage becomes embarrassingly parallel
    * map work and the only remaining shuffle in MinHash-LSH is the bucket
    * self-join itself. */
  def minhashBandKeysFast(numHashes: Int, bands: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (shingles: Seq[String]) =>
      val rpb = numHashes / bands
      val md = java.security.MessageDigest.getInstance("MD5")
      val mins = Array.fill[Array[Byte]](numHashes)(null)
      val suffixes = Array.tabulate(numHashes)(i => ("#" + i).getBytes("UTF-8"))
      shingles.foreach { s =>
        val sb = s.getBytes("UTF-8")
        var i = 0
        while (i < numHashes) {
          md.reset(); md.update(sb); md.update(suffixes(i))
          val d = md.digest()
          if (mins(i) == null || unsignedLt(d, mins(i))) mins(i) = d
          i += 1
        }
      }
      val hex = mins.map(m => if (m == null) "" else m.map("%02x".format(_)).mkString)
      Array.tabulate(bands) { b =>
        val bandStr = (0 until rpb).map(r => hex(b * rpb + r)).mkString(",")
        md.reset()
        md.digest(bandStr.getBytes("UTF-8")).map("%02x".format(_)).mkString
      }
    }

  private def unsignedLt(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length && i < b.length) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    a.length < b.length
  }

  /** Per-document MinHash signature artifact: one row per doc carrying
    * `sh`, its distinct `ngram` shingles as ascending 64-bit hashes
    * (`array<bigint>`, each the [[shingleHash]] of a [[shinglesFast]]
    * shingle), and the `bands` LSH band keys (`array<bigint>`) — the state
    * every MinHash consumer derives from: the pair graph, the incremental
    * gate's BASE side, and an exact audit's shingle sets. Entirely narrow
    * per-doc work: signatures are independent of the rest of the corpus,
    * so any row filter of this table equals recomputing on the filtered
    * corpus. Docs with no shingle (fewer than `ngram` words, empty or null
    * text) are dropped.
    *
    * One UDF pass per doc goes from the text straight to both columns
    * ([[shingleHashes]], then [[bandKeys]]): no shingle string is built,
    * so none is converted, cached or shuffled downstream. A Jaccard over
    * `sh` is the Jaccard of the shingle sets unless two distinct shingles
    * of one pair collide in 64 bits (p ~ k^2/2^65, as in
    * [[ngramJaccardPairsFromShingles]]).
    *
    * The family is XXH64, not md5: MinHash needs a min-wise family, not a
    * cryptographic one (Broder 1997), and one MD5 per shingle per hash was
    * the batch job's largest cost. The md5 form ([[minhashBandKeysFast]])
    * remains only because the DuckDB oracle replays it. */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
                        numHashes: Int, bands: Int, ngram: Int = 2): DataFrame = {
    require(ngram >= 1, s"ngram ($ngram) must be at least 1")
    // Marked nondeterministic only to pin it in its own projection: a
    // deterministic UDF lets the optimizer push the size filter below it
    // and below `spread`'s exchange, so each doc's signature was computed
    // twice, once on the unspread (often single-task) scan.
    val sig = udf { (text: String) =>
      val sh = shingleHashes(text, ngram)
      (sh, bandKeys(sh, numHashes, bands))
    }.asNondeterministic()
    spread(df)
      .select(col(idCol).as("doc_id"), sig(col(textCol)).as("s"))
      .select(col("doc_id"), col("s._1").as("sh"), col("s._2").as("bands"))
      .where(size(col("sh")) > 0)
  }

  /** The distinct word `n`-gram shingle hashes of `text`, ascending: the
    * [[shingleHash]] of every [[shinglesFast]] shingle, without building
    * one. The text is lowercased (`Locale.ROOT`) and split on Java's `\s`
    * class (space, tab, LF, VT, FF, CR), the tokens of `split("\\s+")`; the
    * words, joined by single spaces, are encoded to UTF-8 once, and each
    * n-gram's byte slice is hashed in place. Null text has no shingles. */
  private[graft] def shingleHashes(text: String, n: Int): Array[Long] = {
    if (text == null) return Array.emptyLongArray
    val b = text.toLowerCase(java.util.Locale.ROOT).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // compact in place to words joined by single spaces: in UTF-8 the six
    // separator bytes occur only as those ASCII characters
    val starts = new Array[Int](b.length / 2 + 1)
    val ends = new Array[Int](b.length / 2 + 1)
    var words = 0
    var w = 0
    var r = 0
    while (r < b.length) {
      while (r < b.length && isSpace(b(r))) r += 1
      if (r < b.length) {
        if (words > 0) { b(w) = ' '; w += 1 }
        starts(words) = w
        while (r < b.length && !isSpace(b(r))) { b(w) = b(r); w += 1; r += 1 }
        ends(words) = w
        words += 1
      }
    }
    if (words < n) return Array.emptyLongArray
    val hs = new Array[Long](words - n + 1)
    var i = 0
    while (i < hs.length) {
      hs(i) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + starts(i),
        ends(i + n - 1) - starts(i), 42L)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var k = 1
    i = 1
    while (i < hs.length) {
      if (hs(i) != hs(k - 1)) { hs(k) = hs(i); k += 1 }
      i += 1
    }
    if (k == hs.length) hs else java.util.Arrays.copyOf(hs, k)
  }

  private def isSpace(c: Byte): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r')

  /** The per-shingle hash of [[minhashSignatures]]: XXH64 over the
    * shingle's UTF-8 bytes with seed 42, so it equals Spark's
    * `xxhash64(shingle)`. The batch path hashes byte slices of the text
    * ([[shingleHashes]]); this string form is the reference it equals. */
  private[graft] def shingleHash(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  /** The splitmix64 finalizer: a bijection on 64 bits with full avalanche. */
  private def mix64(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The MinHash band keys of a set of shingle hashes, the family of
    * [[minhashSignatures]]: hash i of a shingle with hash h is
    * `mix64(h + (i + 1) * 0x9E3779B97F4A7C15)`, and the signature keeps each
    * hash's signed minimum. Band b folds its `numHashes / bands` minimums m
    * in order into one long, `k = mix64(k ^ m)` from `k = b`. The keys
    * depend only on the set of hashes, not on their order or repeats. */
  private def bandKeys(hashes: Array[Long], numHashes: Int, bands: Int): Array[Long] = {
    val rpb = numHashes / bands
    val mins = Array.fill(numHashes)(Long.MaxValue)
    hashes.foreach { h =>
      var i = 0
      while (i < numHashes) {
        val v = mix64(h + (i + 1) * 0x9e3779b97f4a7c15L)
        if (v < mins(i)) mins(i) = v
        i += 1
      }
    }
    Array.tabulate(bands) { b =>
      var k = b.toLong
      var r = 0
      while (r < rpb) { k = mix64(k ^ mins(b * rpb + r)); r += 1 }
      k
    }
  }

  /** [[ngramJaccardPairs]] through the build-once persisted contract
    * ([[graft.core.PersistedBuild]]): the exact-Jaccard pair graph is an
    * index-like derived artifact that feeds the pair gate and the whole
    * cluster family, so the first caller on `path` builds and publishes it
    * atomically and everyone else reads the parquet. */
  def ngramJaccardPairsPersisted(df: DataFrame, path: String,
                                 textCol: String, idCol: String,
                                 n: Int, threshold: Double): DataFrame =
    graft.core.PersistedBuild.table(
      ngramJaccardPairs(df, textCol, idCol, n, threshold), path,
      df.sparkSession)

  /** MinHash-LSH near-dup pairs: shingle -> minhash -> band -> bucket ->
    * exact Jaccard verify inside the bucket, on its candidates only. The
    * signatures are [[minhashSignatures]]'s XXH64 family: shingles as
    * ascending distinct 64-bit hashes and long band keys; the oracle's md5
    * form is not used here. The Jaccard is over the shingle hash sets,
    * which equals the shingle Jaccard unless two distinct shingles of a
    * pair collide in 64 bits (p ~ k^2/2^65, as in
    * [[ngramJaccardPairsFromShingles]]).
    *
    * Scale shape: the signatures are one narrow per-document pass; the
    * pairs are one RDD lineage over the decoded signature rows in
    * [[minhashNearDupPairsFromSigs]], with two shuffles: a map-side
    * combined count per band bucket, then one group of the bounded
    * multi-member buckets, which verifies its own pairs. No stage is
    * planned by Catalyst. Verification touches candidate pairs, not the
    * n^2 cross product. Skewed buckets (boilerplate docs) are bounded by
    * dropping buckets above `maxBucket`. */
  def minhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                          numHashes: Int = 12, bands: Int = 4,
                          threshold: Double = 0.5, ngram: Int = 2,
                          maxBucket: Int = 1000): DataFrame = {
    require(bands >= 1 && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    // Shape note: signatures come from [[minhashSignatures]], one narrow
    // per-document UDF pass from text to shingle hashes and band keys,
    // with NO shuffle and no shingle string (the round-1 shape — explode +
    // numHashes min-aggregates — shuffled (docs x numHashes) strings and was
    // the single slowest stage of the whole bench; the declarative array form
    // is ~50s at 500 docs because HOF lambdas are interpreted).
    minhashNearDupPairsFromSigs(
      minhashSignatures(df, textCol, idCol, numHashes, bands, ngram),
      threshold, maxBucket)
  }

  /** The band-bucket + verify tail of [[minhashNearDupPairs]], fed by an
    * already-derived signature frame ([[minhashSignatures]] live or read
    * back from its persisted artifact: the same `sh` / band-key values the
    * inline form computes). `doc_id` and the band keys may be of any type
    * (longs from [[minhashSignatures]], md5 hex strings from
    * [[minhashBandKeysFast]]): keys are compared as values, and ids are
    * ordered as Spark orders their type. `sh` may be
    * [[minhashSignatures]]' ascending distinct shingle hashes
    * (`array<bigint>`, verified by a linear merge that refuses an array
    * that is not strictly ascending) or any other distinct shingle array,
    * such as the md5 frames' strings (verified by set). A pair is a
    * candidate when its two docs share a band bucket of at most
    * `maxBucket` members; it is kept when the Jaccard of its two `sh` sets,
    * `round(inter / (|sh1| + |sh2| - inter), 4)`, reaches `threshold` (over
    * hashes, the shingle Jaccard up to a 64-bit collision, as in
    * [[ngramJaccardPairsFromShingles]]).
    *
    * Both frame forms take one RDD lineage over the signature rows, decoded
    * once from `sigs.queryExecution.toRdd` to JVM values, so no stage pays
    * Catalyst planning or adaptive re-planning. Count, then verify:
    *   1. a `reduceByKey`, combined on the map side, counts each
    *      (band_idx, band_key) bucket, and its multi-member buckets (the
    *      only ones that can hold a pair) are collected to the driver,
    *      split into oversize (more than `maxBucket` members) and bounded
    *      keys;
    *   2. both key sets are broadcast, and only the docs of bounded buckets
    *      carry their shingles and band keys into the second shuffle, a
    *      group per bucket;
    *   3. each group verifies its own pairs (lower id first) and emits a
    *      pair only from the lowest band where the two docs share a bucket
    *      that is not oversize. Every pair is therefore emitted once: no
    *      de-duplication, and no join-back to fetch shingles.
    * On a signature frame with no shuffle in its lineage that is 2 jobs
    * and 2 shuffles (`DedupPlanSpec`), each shuffle to
    * `spark.sql.shuffle.partitions` reducers. The decoded rows are
    * persisted for their two passes; the pairs (`id1`, `id2`, `jaccard`)
    * are local-checkpointed eagerly and the decoded rows released, also
    * when a stage throws, so repeated calls in one session hold no cached
    * blocks but their results.
    *
    * `requireBucketBound = true` makes the maxBucket skew cut CHECKED
    * rather than assumed: a multi-member band bucket exceeding the bound
    * throws after step 1, before any verification, instead of silently
    * dropping pairs. Audit consumers (the shared pair graph the recall
    * gates restrict) depend on no bucket being dropped, so their build
    * must fail loudly the day a boilerplate bucket crosses the bound; the
    * unchecked form stays the right default for plain dedup, where
    * dropping signal-free mega-buckets IS the design. A one-member bucket
    * holds no pair, so it is never counted against the bound. */
  def minhashNearDupPairsFromSigs(sigs: DataFrame, threshold: Double,
                                  maxBucket: Int = 1000,
                                  requireBucketBound: Boolean = false): DataFrame = {
    val spark = sigs.sparkSession
    val idType = sigs.schema("doc_id").dataType
    val hashed = elementType(sigs, "sh") == LongType
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val members = decodeMembers(sigs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Skew bound: a bucket of size B yields B^2/2 candidate pairs; drop
      // buckets above maxBucket (boilerplate shared by thousands of docs
      // carries no dedup signal and would OOM the verify group at scale).
      val (oversize, bounded) = members
        .flatMap(m => (0 until m.bands).iterator.map(c => ((c, m.key(c)), 1L)))
        .reduceByKey(_ + _, parts)
        .filter(_._2 >= 2)
        .collect()
        .partition(_._2 > maxBucket)
      if (requireBucketBound && oversize.nonEmpty) {
        throw new IllegalStateException(
          s"minhash band bucket of size ${oversize.map(_._2).max} exceeds " +
            s"maxBucket=$maxBucket: the audit-shared pair graph would silently " +
            "drop pairs; raise maxBucket for this build or fix the boilerplate upstream")
      }
      // not destroyed here: the checkpointed pairs keep their closure, which
      // refers to it; the context cleaner frees it with them
      val buckets = spark.sparkContext.broadcast((bounded.map(_._1).toSet, oversize.map(_._1).toSet))
      val pairs = members
        .flatMap { m =>
          val verified = buckets.value._1
          (0 until m.bands).iterator.map(c => (c, m.key(c))).filter(verified).map(_ -> m)
        }
        .groupByKey(parts)
        .mapPartitions { groups =>
          val order = org.apache.spark.sql.catalyst.types.PhysicalDataType.ordering(idType)
          val toId = org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter(idType)
          groups.flatMap { case ((band, _), ms) =>
            ownedPairs(band, ms.toArray.sortBy(_.id)(order), buckets.value._2, hashed, threshold)
              .map { case (a, b, jaccard) => Row(toId(a), toId(b), jaccard) }
          }
        }
      pairs.localCheckpoint()
      try pairs.count()
      catch {
        case e: Throwable =>
          org.apache.spark.sql.graftbridge.StorageBridge.release(pairs)
          throw e
      }
      spark.createDataFrame(pairs, new StructType()
        .add("id1", idType).add("id2", idType).add("jaccard", DoubleType))
    } finally members.unpersist(false)
  }

  /** One signature row as JVM values: `id` as a Catalyst value copied out
    * of the row; `sh` and the band `keys` each as an `Array[Long]` when
    * their elements are longs, else as an array of copied Catalyst values.
    * Primitive arrays keep the persisted rows cheap to size and to
    * serialize. */
  private final case class Member(id: Any, sh: AnyRef, keys: AnyRef) {
    def size: Int = java.lang.reflect.Array.getLength(sh)
    def bands: Int = java.lang.reflect.Array.getLength(keys)
    def key(c: Int): Any = scala.runtime.ScalaRunTime.array_apply(keys, c)
  }

  private def elementType(df: DataFrame, name: String): DataType =
    df.schema(name).dataType.asInstanceOf[ArrayType].elementType

  /** The `doc_id`, `sh` and `bands` of every row of `sigs`, decoded from
    * its physical rows without a planned projection. */
  private def decodeMembers(sigs: DataFrame): RDD[Member] = {
    val schema = sigs.schema
    val Seq(iId, iSh, iBands) = Seq("doc_id", "sh", "bands").map(schema.fieldIndex)
    val idType = schema(iId).dataType
    val (shType, keyType) = (elementType(sigs, "sh"), elementType(sigs, "bands"))
    def values(a: ArrayData, t: DataType): AnyRef =
      if (t == LongType) a.toLongArray()
      else a.toObjectArray(t).map(v => InternalRow.copyValue(v).asInstanceOf[AnyRef])
    sigs.queryExecution.toRdd.map { r =>
      Member(InternalRow.copyValue(r.get(iId, idType)),
        values(r.getArray(iSh), shType), values(r.getArray(iBands), keyType))
    }
  }

  /** The pairs one band bucket owns, as (id, id, jaccard) with the lower
    * id first and the jaccard at least `threshold`. `ms` are the bucket's
    * members sorted by id. A pair is owned by the bucket of the lowest band
    * where its two docs share a key that is not in `cut` (the oversize
    * buckets), so each candidate pair is verified and emitted by exactly
    * one group. The shared count is the number of distinct elements in
    * both `sh`: with `hashed`, `sh` holds ascending distinct longs (the
    * form of [[minhashSignatures]]) and the count is a linear merge of the
    * two arrays, which throws `IllegalArgumentException` on an array that
    * is not strictly ascending (the merge would miscount it silently); any
    * other element type (the md5 frames' shingle strings) counts by set.
    * The jaccard is rounded as Spark's `round(x, 4)` rounds a double. */
  private def ownedPairs(band: Int, ms: Array[Member], cut: Set[(Int, Any)],
                          hashed: Boolean, threshold: Double): Iterator[(Any, Any, Double)] = {
    val inter: (Int, Int) => Int =
      if (hashed) {
        val hs = ms.map(m => ascending(m.sh.asInstanceOf[Array[Long]], m.id))
        (i, j) => mergeCount(hs(i), hs(j))
      } else {
        val sets = ms.map(_.sh.asInstanceOf[Array[AnyRef]].toSet)
        (i, j) => {
          val (small, large) =
            if (sets(i).size <= sets(j).size) (sets(i), sets(j)) else (sets(j), sets(i))
          small.count(large)
        }
      }
    def ownedHere(i: Int, j: Int): Boolean = {
      var c = 0
      while (c < band) {
        val k = ms(i).key(c)
        if (k == ms(j).key(c) && !cut((c, k))) return false
        c += 1
      }
      true
    }
    for {
      i <- ms.indices.iterator
      j <- (i + 1 until ms.length).iterator
      if ownedHere(i, j)
      n = inter(i, j)
      d = ms(i).size + ms(j).size - n
      if d > 0
      jaccard = java.math.BigDecimal.valueOf(n.toDouble / d)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
      if jaccard >= threshold
    } yield (ms(i).id, ms(j).id, jaccard)
  }

  /** `hs`, checked to be strictly ascending. */
  private def ascending(hs: Array[Long], docId: Any): Array[Long] = {
    var i = 1
    while (i < hs.length) {
      if (hs(i - 1) >= hs(i))
        throw new IllegalArgumentException(
          s"sh of doc $docId is not strictly ascending at index $i: a merge would miscount it")
      i += 1
    }
    hs
  }

  /** The number of values two strictly ascending arrays share. */
  private def mergeCount(a: Array[Long], b: Array[Long]): Int = {
    var i = 0
    var j = 0
    var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { n += 1; i += 1; j += 1 }
    }
    n
  }

  /** Incremental MinHash near-dup: NEW batch vs an already-indexed SEEN
    * corpus — the daily-ingest shape ([[exactIncremental]]'s near-dup
    * sibling; the streaming bucket table is the in-flight analogue). The
    * seen side arrives as persisted band keys (built once at index time by
    * the same [[minhashSignatures]] family), so a day's ingest computes
    * signatures for the NEW docs only and probes the seen band table with
    * one equi-join — no new-vs-new or seen-vs-seen pairs, no re-hash of
    * history. Candidates verify by exact shingle Jaccard against the seen
    * side's stored shingle sets.
    *
    * Output: (new_id, seen_id, jaccard >= threshold). */
  def minhashIncrementalPairs(newDocs: DataFrame, seenDocs: DataFrame,
                              textCol: String, idCol: String,
                              numHashes: Int = 12, bands: Int = 4,
                              threshold: Double = 0.5, ngram: Int = 2): DataFrame =
    minhashIncrementalPairsFromSigs(
      minhashSignatures(newDocs, textCol, idCol, numHashes, bands, ngram),
      minhashSignatures(seenDocs, textCol, idCol, numHashes, bands, ngram),
      threshold)

  /** [[minhashIncrementalPairs]] fed by already-derived signature frames —
    * the r12-verdict shape for the incremental gate: the SEEN side reads
    * its shingles and band keys from the persisted signature artifact
    * (production's index-time state) instead of re-hashing history every
    * batch, and the NEW side's signatures come from the same artifact
    * restricted to the batch (per-doc independence makes restriction ≡
    * recompute — the sampled-recall argument). Bit-identical output to the
    * inline form: same band equi-join (cross-side candidates only, no
    * bucket cap) and the same stored-shingle Jaccard verify. */
  def minhashIncrementalPairsFromSigs(newSigs: DataFrame, seenSigs: DataFrame,
                                      threshold: Double): DataFrame = {
    val shNew = newSigs
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shSeen = seenSigs
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def band(sg: DataFrame) = sg.select(col("doc_id"),
        posexplode(col("bands")).as(Seq("band_idx", "band_key")))
      val candidates = band(shNew)
        .select(col("doc_id").as("new_id"), col("band_idx"), col("band_key"))
        .join(band(shSeen)
          .select(col("doc_id").as("seen_id"), col("band_idx"), col("band_key")),
          Seq("band_idx", "band_key"))
        .select(col("new_id"), col("seen_id"))
        .dropDuplicates("new_id", "seen_id")
      val pairs = candidates
        .join(shNew.select(col("doc_id").as("new_id"), col("sh").as("sh1")), "new_id")
        .join(shSeen.select(col("doc_id").as("seen_id"), col("sh").as("sh2")), "seen_id")
        .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))).cast("double"))
        .withColumn("jaccard", round(
          col("inter") / (size(col("sh1")) + size(col("sh2")) - col("inter")), 4))
        .where(col("jaccard") >= threshold)
        .select("new_id", "seen_id", "jaccard")
      pairs.localCheckpoint()
    } finally {
      shNew.unpersist(false)
      shSeen.unpersist(false)
    }
  }

  /** 32-bit SimHash as a bit string, from the high bit of each md5 hex char:
    * bit_j = sign of sum over tokens of (+1 if hex digit j of md5(token) >= 8
    * else -1). Portable to ANSI SQL (same md5, same substring, same sums).
    *
    * Shape note: md5 is computed ONCE per token (outer `transform`), then a
    * single `aggregate` folds a 32-wide count array — the naive
    * "aggregate-per-bit" formulation recomputes md5 32x per token and was
    * measured ~20x slower. */
  def simhash32(text: Column): Column = {
    val hexHigh = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val hashes = transform(TextFunctions.wsTokens(lower(text)), w => md5(w))
    val counts = aggregate(
      hashes,
      array_repeat(lit(0), 32),
      (acc, h) => zip_with(acc,
        transform(sequence(lit(1), lit(32)),
          j => when(h.substr(j, lit(1)).isInCollection(hexHigh), 1).otherwise(-1)),
        _ + _))
    array_join(transform(counts, c => when(c >= 0, lit("1")).otherwise(lit("0"))), "")
  }

  /** Fast UDF twin of [[simhash32]] — bit-identical output (cross-checked in
    * DedupSpec), one MessageDigest pass per token instead of an interpreted
    * HOF lambda per (token x bit). The hex-digit-high-bit test becomes a
    * nibble test on the raw 16-byte digest. Same tradeoff call as
    * [[shinglesFast]]: per-element-heavy work belongs in compiled scalar
    * code, the declarative form stays as the oracle-shaped reference. */
  def simhash32Fast: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (text: String) =>
      if (text == null) null
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val counts = new Array[Int](32)
        text.toLowerCase(java.util.Locale.ROOT).split("\\s+").foreach { tok =>
          if (tok.nonEmpty) {
            md.reset()
            val d = md.digest(tok.getBytes("UTF-8"))
            var j = 0
            while (j < 32) {
              // hex digit j of the md5 hex string = nibble j of the digest
              val nib = if (j % 2 == 0) (d(j / 2) >> 4) & 0xf else d(j / 2) & 0xf
              if (nib >= 8) counts(j) += 1 else counts(j) -= 1
              j += 1
            }
          }
        }
        val sb = new java.lang.StringBuilder(32)
        var j = 0
        while (j < 32) { sb.append(if (counts(j) >= 0) '1' else '0'); j += 1 }
        sb.toString
      }
    }

  /** Exact n-gram Jaccard self-join (the quadratic baseline that LSH
    * replaces at scale; useful as ground truth and for small candidate sets).
    * Computed via shingle explode + equi-join on shingle + group-by pair —
    * shuffles on shingle then on (id1, id2), never materializing n^2. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 2, threshold: Double = 0.5): DataFrame =
    ngramJaccardPairsFromShingles(
      spread(df).select(col(idCol).as("doc_id"),
        shinglesFast(n)(col(textCol)).as("sh")),
      threshold)

  /** The self-join + verify tail of [[ngramJaccardPairs]], fed by an
    * already-derived (doc_id, sh) shingle frame — so the recall audits can
    * reuse the persisted MinHash signature artifact's shingle column for
    * their exact side instead of re-tokenizing the corpus (the sig table's
    * `size(sh) > 0` filter is harmless here: an empty shingle set can join
    * nothing and therefore appears in no pair). Output is bit-identical to
    * the inline form on the same shingle values. */
  def ngramJaccardPairsFromShingles(shingleFrame: DataFrame,
                                    threshold: Double): DataFrame = {
    // Join key is xxhash64(shingle), not the shingle string: the self-join
    // shuffle moves 8-byte longs instead of ~n-word strings (the dominant
    // shuffle of this operator — at 100 TB the shingle table is ~10x the
    // corpus). Per-doc shingles are distinct, so counts and intersection
    // sizes are preserved exactly unless two distinct shingles collide in
    // 64 bits (p ~ k^2/2^65; ~1e-8 at 10^6 shingles, and each collision
    // perturbs one pair's count by 1 — harmless for near-dup semantics).
    // Per-doc shingle counts come from size() on the un-exploded array (a
    // narrow map over the doc-sized frame) — NOT a groupBy over the exploded
    // shingle table, which would be a second full shuffle of the largest
    // intermediate in the operator.
    val shArr = shingleFrame
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = shArr.select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"))
    val sh = shArr
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = sh.alias("a")
      .join(sh.alias("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("inter"))
    val result = pairs
      .join(counts.withColumnRenamed("doc_id", "id1").withColumnRenamed("n_sh", "n1"), "id1")
      .join(counts.withColumnRenamed("doc_id", "id2").withColumnRenamed("n_sh", "n2"), "id2")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("n1") + col("n2") - col("inter")), 4))
      .where(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
    // eager materialize + release, as in [[minhashNearDupPairs]]: no cached
    // blocks survive the call.
    val out = result.localCheckpoint()
    sh.unpersist(false)
    shArr.unpersist(false)
    out
  }

  /** Asymmetric n-gram CONTAINMENT pairs: c(A⊆B) = |A∩B| / |A| — the
    * subset detector symmetric Jaccard misses (a page extracted from a
    * larger doc, a doc quoting another: a 10-gram excerpt inside a
    * 1000-gram doc has Jaccard ~0.01 but containment ~1.0 on the excerpt
    * side). Broder's containment measure; the standard screen for
    * "smaller doc swallowed by bigger doc" dedup.
    *
    * Identical shuffle shape to [[ngramJaccardPairs]] (hashed-shingle
    * equi-join, pair count agg, per-doc sizes from the un-exploded array);
    * keeps BOTH directions and gates on the max. */
  def ngramContainmentPairs(df: DataFrame, textCol: String, idCol: String,
                            n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val shArr = spread(df)
      .select(col(idCol).as("doc_id"), shinglesFast(n)(col(textCol)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = shArr.select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"))
    val sh = shArr
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = sh.alias("a")
      .join(sh.alias("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("inter"))
    val result = pairs
      .join(counts.withColumnRenamed("doc_id", "id1").withColumnRenamed("n_sh", "n1"), "id1")
      .join(counts.withColumnRenamed("doc_id", "id2").withColumnRenamed("n_sh", "n2"), "id2")
      .withColumn("c_1in2", round(col("inter").cast("double") / col("n1"), 4))
      .withColumn("c_2in1", round(col("inter").cast("double") / col("n2"), 4))
      .where(greatest(col("c_1in2"), col("c_2in1")) >= threshold)
      .select("id1", "id2", "c_1in2", "c_2in1")
    val out = result.localCheckpoint()
    sh.unpersist(false)
    shArr.unpersist(false)
    out
  }

  /** Edit-distance (Levenshtein) near-dup pairs over a bounded prefix
    * window, with length-bucket blocking instead of an all-pairs join.
    *
    * Distance is computed on the first `window` chars of the cleansed text
    * (a fixed O(window·maxDist) per-candidate cost via the banded threshold
    * algorithm — unbounded-length Levenshtein is quadratic in document size
    * and has no place in a 100 TB plan).
    *
    * Blocking exploits the metric itself: edit distance <= maxDist implies
    * the prefix lengths differ by <= maxDist, so with bucketWidth > maxDist
    * a qualifying pair's length buckets differ by at most 1. The left side
    * keeps its own bucket and the right side fans out to {own-1, own,
    * own+1}, so every qualifying pair meets on EXACTLY one join key (the
    * left row's own bucket) — no post-join de-dup shuffle — and the blocked
    * join is EXACTLY equivalent to the all-pairs filter (the DuckDB oracle
    * runs the all-pairs form, proving the rewrite preserves semantics, same
    * pattern as the salted-join oracle).
    *
    * Candidates are pruned before the banded verify by a lossless
    * char-histogram bound: one edit op changes a character multiset by at
    * most 2 units of L1, so L1(bag(a), bag(b)) > 2·maxDist rules a pair out.
    * The 27-bin bag (a-z + space, lowercased — a char-level projection can
    * only shrink L1, so the bound survives it) is computed once per ROW as
    * a 27-byte `binary` ([[graft.plans.CharBagExpr]], one string pass); the
    * per-pair check is a codegen early-exit byte compare
    * ([[graft.plans.BagL1WithinExpr]]), orders cheaper than the banded
    * distance it guards. A free `|len(a)-len(b)| <= maxDist` reject runs
    * before it (the length blocking alone allows ~2x bucketWidth of
    * spread).
    *
    * Shuffle profile: one bucket-keyed self-join, then a fused narrow
    * filter chain — bag bound, then banded `levenshtein(p1, p2, maxDist)`
    * (-1 past the threshold) — with nothing wider than the surviving pairs
    * ever shuffled. Unlike the LSH operators there is deliberately NO
    * maxBucket skip here: in this blocking scheme the dominant length
    * bucket (every doc ≥ window chars) IS the workload, so skipping
    * oversized buckets would silently zero the operator's recall the
    * moment the corpus grows past the bound — candidate volume is
    * inherently quadratic in the largest bucket's population, and the
    * caller's dial for that is `window`/`maxDist`, not a silent drop.
    *
    * The length-bucket key space is TINY (≈ window/bucketWidth values), so
    * an unsalted join would put each bucket's whole pair loop on one task —
    * a corpus whose lengths concentrate in one bucket (any corpus with most
    * docs ≥ window chars!) would run ~serially no matter the cluster size.
    * The join is therefore slice-salted like [[graft.operators.Skew]]: the
    * right side hashes into `saltSlices` slices, the (narrow, pre-verify)
    * left side replicates across all of them, and every pair still meets on
    * exactly one key, now (bucket, slice). Size `saltSlices` ≈ the target
    * parallelism for the largest bucket's pair loop. */
  def levenshteinNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                              maxDist: Int = 24, window: Int = 128,
                              bucketWidth: Int = 32,
                              saltSlices: Int = 32): DataFrame = {
    require(bucketWidth > maxDist,
      s"bucketWidth ($bucketWidth) must exceed maxDist ($maxDist) for lossless blocking")
    // bag: single-pass 27-byte histogram (codegen CharBagExpr) — 27 bytes
    // through the candidate shuffle instead of an int array, one string
    // scan per row instead of 27
    val pre = spread(df).select(col(idCol).as("doc_id"),
        substring(TextFunctions.cleanseText(col(textCol)), 1, window).as("pre"))
      .withColumn("bag", graft.plans.CharBagExpressions.charBag(col("pre")))
      .withColumn("own", floor(length(col("pre")) / bucketWidth).cast("int"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val left = pre
      .withColumn("s", explode(array((0 until saltSlices).map(lit): _*)))
    val right = pre
      .select(col("doc_id"), col("pre"), col("bag"),
        explode(array(col("own") - 1, col("own"), col("own") + 1)).as("b"))
      .withColumn("s", pmod(xxhash64(col("doc_id")), lit(saltSlices)).cast("int"))
    // filter ladder, cheapest first: |len diff| > k is a free reject the
    // length blocking doesn't fully cover (buckets allow up to 2·bucketWidth
    // of spread); then the early-exit bag bound; then the banded DP verify
    val pairs = left.alias("a").join(right.alias("c"),
        col("a.own") === col("c.b") && col("a.s") === col("c.s") &&
          col("a.doc_id") < col("c.doc_id"))
      .where(abs(length(col("a.pre")) - length(col("c.pre"))) <= lit(maxDist))
      .where(graft.plans.CharBagExpressions.bagL1Within(
        col("a.bag"), col("c.bag"), 2 * maxDist))
      .withColumn("edit_dist", graft.plans.StringEditExpressions
        .bandedLevenshtein(col("a.pre"), col("c.pre"), maxDist))
      .where(col("edit_dist") >= 0)
      .select(col("a.doc_id").as("id1"), col("c.doc_id").as("id2"), col("edit_dist"))
    // eager materialize + release, as in [[minhashNearDupPairs]]
    val out = pairs.localCheckpoint()
    pre.unpersist(false)
    out
  }

  /** Candidate near-dup pairs from `nTables` independent sign-LSH tables of
    * `nBits` hyperplanes each (seeded `seed + t`, so the family is
    * deterministic): a pair is a candidate iff it lands in the same bucket
    * in ANY table. The only shuffles are the bucket self-join (keyed on
    * table:bucket — never all-pairs) and the candidate dedup; buckets above
    * `maxBucket` are dropped, bounding the join's worst case exactly like
    * [[minhashNearDupPairs]]'s band join.
    *
    * Selectivity is threshold-bound: a pair at cosine t collides per
    * hyperplane with p = 1 - acos(t)/pi, per table with p^nBits, and is
    * missed by all tables with (1 - p^nBits)^nTables. At production
    * near-dup thresholds (t >= 0.85, p >= 0.82) a few 8-bit tables prune
    * the candidate set to a sliver of n^2; at loose thresholds (t ~ 0.45,
    * p ~ 0.65) recall-1 forces small codes and the candidate set approaches
    * all-pairs — the pruning power is a property of the threshold, not the
    * operator. Defaults (4, 24) give recall 1 at the gate thresholds. */
  def embeddingCandidatePairs(df: DataFrame, vecCol: String, idCol: String,
                              dim: Int, nBits: Int = 4, nTables: Int = 24,
                              seed: Long = 42L, maxBucket: Int = 10000): DataFrame = {
    // r13: INT bucket key — (table << nBits) | sign bits — instead of the
    // "t:0101" string concat. Bijective with the string form per (table,
    // sign-pattern), so the candidate pair set (and every hash downstream)
    // is unchanged; saves 24 string concats + ~7-byte keys per row in
    // favor of one int add-chain + 4-byte keys on every exchange
    // (guide §2.3 "narrower types"). lshTopK keeps the string form —
    // its oracle replays the string buckets literally.
    val tableBuckets = array((0 until nTables).map { t =>
      val planes = SimilaritySearch.hyperplanes(nBits, dim, seed + t)
      planes.zipWithIndex.map { case (p, i) =>
        when(graft.functions.VectorFunctions.dotProduct(col("__v"),
          org.apache.spark.sql.functions.typedlit(p.toSeq)) >= 0,
          lit(1 << i)).otherwise(lit(0))
      }.reduce(_ + _) + lit(t << nBits)
    }: _*)
    val banded = spread(df)
      .select(col(idCol).as("doc_id"), col(vecCol).as("__v"))
      .select(col("doc_id"), explode(tableBuckets).as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = banded.groupBy(col("bucket")).agg(count(lit(1)).as("__bn"))
    val bounded = banded.join(sizes, Seq("bucket"))
      .where(col("__bn") <= maxBucket)
      .drop("__bn")
    val cand = bounded.alias("a").join(bounded.alias("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .dropDuplicates("id1", "id2")
    // eager materialize + release, as in [[minhashNearDupPairs]]
    val out = cand.localCheckpoint()
    banded.unpersist(false)
    out
  }

  /** Embedding-cosine near-dup pairs over a vector table: sign-LSH bucketed
    * candidate generation ([[embeddingCandidatePairs]]) + exact cosine
    * verify on the candidates only. Neither side is broadcast and nothing
    * is O(n^2) in the plan: the candidate join is bucket-keyed and the
    * verify joins vectors back by id — at 100 TB every stage shards over
    * executors by hash. The all-pairs form survives as
    * [[embeddingNearDupPairsExact]] (ground truth / small candidate sets). */
  def embeddingNearDupPairs(df: DataFrame, vecCol: String, idCol: String,
                            threshold: Double, dim: Int,
                            nBits: Int = 4, nTables: Int = 24,
                            seed: Long = 42L, maxBucket: Int = 10000): DataFrame = {
    import graft.functions.VectorFunctions
    val v = df.select(col(idCol).as("doc_id"), col(vecCol).as("__v"))
    embeddingCandidatePairs(df, vecCol, idCol, dim, nBits, nTables, seed, maxBucket)
      .join(v.select(col("doc_id").as("id1"), col("__v").as("v1")), "id1")
      .join(v.select(col("doc_id").as("id2"), col("__v").as("v2")), "id2")
      .withColumn("cosine", round(VectorFunctions.cosineSimilarity(col("v1"), col("v2")), 4))
      .where(col("cosine") >= threshold)
      .select("id1", "id2", "cosine")
  }

  /** Exact all-pairs embedding near-dup (broadcast nested-loop). O(n^2)
    * compares and a whole-corpus broadcast: ONLY for ground truth at test
    * scale or as the verify stage over an already-bucketed candidate slice
    * — the registered operator is the bucketed [[embeddingNearDupPairs]]. */
  def embeddingNearDupPairsExact(df: DataFrame, vecCol: String, idCol: String,
                                 threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions
    val a = spread(df).select(col(idCol).as("id1"), col(vecCol).as("v1"))
    val b = df.select(col(idCol).as("id2"), col(vecCol).as("v2"))
    a.join(broadcast(b), col("id1") < col("id2"))
      .withColumn("cosine", round(VectorFunctions.cosineSimilarity(col("v1"), col("v2")), 4))
      .where(col("cosine") >= threshold)
      .select("id1", "id2", "cosine")
  }

  /** Keep-best resolution — the final stage of the dedup pipeline: given
    * cluster labels (from [[connectedComponents]]) and a per-document score
    * (e.g. [[graft.functions.TextFunctions.qualityScore]]), elect one keeper
    * per cluster: highest score, ties broken by lowest id (the score is on a
    * fixed decimal grid on both engines, so the arg-max is deterministic
    * cross-engine). No window: the id join, then one groupBy on the
    * cluster with a map-side partial `max_by`. `max_by` over a struct has
    * no fixed-width buffer, so the aggregate runs as a SortAggregate, with
    * a sort on each side of the cluster exchange. */
  def resolveKeepBest(clusters: DataFrame, scored: DataFrame,
                      idCol: String = "doc_id", clusterCol: String = "cluster_id",
                      scoreCol: String = "quality"): DataFrame =
    clusters.join(scored, idCol)
      .groupBy(col(clusterCol))
      .agg(
        max_by(struct(col(idCol), col(scoreCol)),
          struct(col(scoreCol), -col(idCol))).as("__keep"),
        count(lit(1)).as("n_members"))
      .select(col(clusterCol), col("__keep")(idCol).as("keep_id"),
        col("__keep")(scoreCol).as("keep_quality"), col("n_members"))

  /** Connected components over a near-dup pair graph: label every node with
    * the minimum id reachable from it (= its cluster id, which is also the
    * canonical "keep" doc under keep-lowest-id policy). This is the stage a
    * real dedup pipeline runs AFTER pair generation — near-dup is transitive
    * in intent (a~b, b~c => one cluster) even when the pairwise threshold
    * isn't, so keep-one-per-pair alone under-dedups.
    *
    * Algorithm: min-label propagation with one pointer-jumping hop per round
    * (label(v) <- min over neighbors of their labels, then label(v) <-
    * label(label(v))). The jump makes convergence O(log diameter) rounds
    * instead of O(diameter) — on a pathological 1M-long chain that is ~20
    * shuffle rounds, not 1M. Near-dup components are overwhelmingly small
    * cliques, so in practice 1-2 rounds converge. Two round-cost trims:
    * round 0 is fused into initialization (labels start at least(v,
    * min-neighbor) from one groupBy over the symmetrized edges — no join
    * against an identity label table), and convergence is detected by an
    * exact decimal checksum of the label column instead of a change-join:
    * labels only ever decrease, so sum(comp) is strictly decreasing until
    * the fixpoint, and the checksum is a narrow aggregate over the
    * just-materialized labels (no shuffle) where the join was two. Each
    * round is two hash-partition shuffles sized by |edges| and |nodes|,
    * never by n^2; lineage is truncated per round (localCheckpoint) so
    * plans stay flat — on a multi-executor cluster use
    * `spark.sparkContext.setCheckpointDir` + reliable checkpoints for
    * fault tolerance instead.
    *
    * Input: a pair DataFrame with two id columns (any near-dup pair source:
    * [[minhashNearDupPairs]], [[ngramJaccardPairs]], [[embeddingNearDupPairs]]).
    * Output: (id, comp) for every node that appears in a pair.
    *
    * Size dispatch (the graph-serving tier discipline applied to CC):
    * blocked/thresholded MATCH graphs are routinely tiny relative to the
    * corpus that produced them, and the distributed loop's cost there is
    * pure fixed-job overhead (rounds × scheduling, measured 2.2–4.3 s on
    * er_golden_record's 454k-edge graph). When the symmetrized edge count
    * (2× the pair count materializing the persist) fits
    * `driverEdgeBudget` AND ids are LONGs, the pair rows collect to the
    * driver and a union-find with union-by-MIN-root runs locally — by
    * induction each set's root is its minimum member, so the labels are
    * IDENTICAL to min-label propagation (spec-pinned equality). Budget is
    * in edge rows (≈16 bytes each: the default 2M ≈ 32 MB on the driver);
    * over budget — the only possibility at true 100 TB pair volumes — the
    * distributed loop runs unchanged. */
  def connectedComponents(pairs: DataFrame, idCol1: String = "id1",
                          idCol2: String = "id2", maxIter: Int = 50,
                          driverEdgeBudget: Long = 2000000L): DataFrame = {
    // r13: persist the PAIR rows, not the symmetrized edges — half the
    // cached rows, and the tier decision below no longer needs the seed
    // aggregation to observe an edge count. The caller's (often expensive)
    // pair-generation plan still runs exactly once: the count() materializes
    // the persist, and everything downstream reads the cache. The
    // symmetrized edge view is derived LAZILY from the persisted pairs
    // (narrow explode — no second pass over the upstream plan). No
    // distinct(): duplicate edges cannot change a min-aggregation.
    val spark = pairs.sparkSession
    val p0 = pairs
      .select(col(idCol1).as("src"), col(idCol2).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // released however the call ends; the labels of the loop only when it
    // throws, since the last ones are the result
    var labels: DataFrame = null
    var ok = false
    try {
      val nPairs = p0.count()
      // comp only decreases, so sum(comp) strictly decreases until fixpoint;
      // exact decimal keeps the check overflow-safe for arbitrary long ids.
      // The checksum rides along the checkpoint materialization via observe()
      // — zero extra jobs per round (an agg-and-head was a second pass over
      // the labels, doubling the per-round fixed job cost on small graphs).
      def checkpointWithChecksum(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
        val obs = org.apache.spark.sql.Observation()
        val cp = df
          .observe(obs, sum(col("comp").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("cs"))
          .localCheckpoint()
        // sum over ZERO rows observes null — a corpus with no near-dup pairs
        // must converge to an empty label frame, not NPE in compareTo.
        val cs = obs.get("cs")
        (cp, if (cs == null) java.math.BigDecimal.ZERO
             else cs.asInstanceOf[java.math.BigDecimal])
      }
      // Driver-resident tier: union-find with union-by-MIN-root (labels are
      // provably identical to the loop's min-label fixpoint). LONG ids only
      // (every in-repo pair source); other id types take the loop. Budget is
      // in SYMMETRIZED edge rows as before (2 per pair). r13: the tier
      // decision comes from the persist-materializing count above, so this
      // path no longer computes the distributed seed (a full groupBy exchange
      // per call, wasted whenever the graph fits the driver — which is every
      // in-fixture dedup graph), and it collects the pair rows themselves
      // (half the rows of the old symmetrized-edge collect; union(a,b) makes
      // union(b,a) a no-op, so labels are unchanged).
      if (nPairs * 2 <= driverEdgeBudget &&
          p0.schema("src").dataType == org.apache.spark.sql.types.LongType) {
        graft.core.TierStats.record("connectedComponents", "driver")
        val parent = new java.util.HashMap[java.lang.Long, java.lang.Long](
          math.min(nPairs * 4 + 16, Int.MaxValue.toLong).toInt)
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x
          while (parent.get(c) != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
          r
        }
        p0.collect().foreach { row =>
          val a = row.getLong(0); val b = row.getLong(1)
          if (!parent.containsKey(a)) parent.put(a, a)
          if (!parent.containsKey(b)) parent.put(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
        import scala.jdk.CollectionConverters._
        import spark.implicits._
        val out = parent.keySet().asScala.toSeq
          .map(k => (k.longValue(), find(k.longValue())))
        return spark.createDataset(out).toDF("id", "comp")
      }
      // Distributed tier: symmetrize lazily over the persisted pairs, then
      // fused round 0 — every node appears as src of the symmetrized view, so
      // one groupBy seeds comp(v) = least(v, min neighbor). The observe also
      // counts the nodes so the iteration can size its shuffles.
      val edges = p0
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val seedObs = org.apache.spark.sql.Observation()
      val seed = edges
        .groupBy("src")
        .agg(min(col("dst")).as("nbr"))
        .select(col("src").as("id"), least(col("src"), col("nbr")).as("comp"))
        .observe(seedObs,
          sum(col("comp").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("cs"),
          count(lit(1)).as("n"))
        .localCheckpoint()
      labels = seed
      var prev = seedObs.get("cs") match {
        case null => java.math.BigDecimal.ZERO
        case cs => cs.asInstanceOf[java.math.BigDecimal]
      }
      val nNodes = seedObs.get("n").asInstanceOf[Long]
      // Every round is 2 joins + an agg over NODE-sized frames; at the
      // session's corpus-tuned shuffle-partition count a small graph pays
      // rounds x partitions of empty-task scheduling (measured 2.44 -> 1.78 s
      // on the er_golden_record match graph). Scope the loop's partitions to
      // the observed node count (~1M labels per reducer), never above the
      // session setting — at corpus scale the clamp is a no-op, exactly the
      // GraphAnn.WalkShufflePartitions discipline. The scoped setting lives
      // on a SESSION CLONE (own SQLConf, shared context/cache) and only the
      // loop's eager checkpoints execute under it — round 8's fix for the
      // conf-mutation race two concurrent queries on one session would hit.
      graft.core.TierStats.record("connectedComponents", "distributed")
      val loopParts = math.max(1L, math.min(
        spark.conf.get("spark.sql.shuffle.partitions").toLong,
        nNodes / 1000000L + 1L))
      // conf-inheriting clone (NOT newSession — that would re-plan the loop
      // frames under default confs, dropping e.g. the nanosAsLong parquet
      // flag; the SessionBridge.scopedShuffle contract)
      val rebind = org.apache.spark.sql.graftbridge.SessionBridge
        .scopedShuffle(spark, loopParts.toInt)
      var it = 0
      var done = false
      while (!done && it < maxIter) {
        // Round part 1: neighbor min — comp(v) <- min(comp(v), min_{u~v} comp(u)).
        val nbrMin = edges
          .join(labels.select(col("id").as("src"), col("comp").as("src_comp")), "src")
          .groupBy(col("dst").as("id"))
          .agg(min(col("src_comp")).as("nbr_comp"))
        val afterNbr = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
        // Round part 2: pointer jump — comp(v) <- comp(comp(v)). Labels always
        // point at smaller ids, so chains halve every round.
        val (next, cur) = checkpointWithChecksum(
          rebind(afterNbr
            .join(afterNbr.select(col("id").as("comp"), col("comp").as("parent_comp")),
              Seq("comp"), "left")
            .select(col("id"), coalesce(col("parent_comp"), col("comp")).as("comp"))))
        done = cur.compareTo(prev) == 0
        prev = cur
        labels.unpersist()
        labels = next
        it += 1
      }
      // re-bind the final checkpointed labels to the CALLER's session so
      // downstream (corpus-sized) shuffles plan at the caller's partitions
      val out = org.apache.spark.sql.graftbridge.SessionBridge.withSession(labels, spark)
      ok = true
      out
    } finally {
      p0.unpersist(false)
      if (!ok && labels != null) labels.unpersist()
    }
  }
}
