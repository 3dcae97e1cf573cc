package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "The  quick BROWN fox jumps over the lazy dog!"), // exact dup modulo noise
    (3L, "the quick brown fox jumps over the lazy cat"),   // near dup
    (4L, "completely different content about spark engines and parquet files")
  ).toDF("doc_id", "text")

  test("exact dedup groups formatting-variant duplicates") {
    val got = Dedup.exact(docs, "text", "doc_id")
      .where($"dup_count" > 1).as[(String, Long, Long)].collect()
    assert(got.length === 1)
    assert(got.head._2 === 1L) // keeps min id
    assert(got.head._3 === 2L)
  }

  test("exactKeepRows keeps exactly the lowest-id row per fingerprint, full schema") {
    val kept = Dedup.exactKeepRows(docs, "text", "doc_id")
    assert(kept.columns.toSeq === docs.columns.toSeq)
    val keptIds = kept.select($"doc_id").as[Long].collect().toSet
    val wantIds = Dedup.exact(docs, "text", "doc_id")
      .select($"keep_id").as[Long].collect().toSet
    assert(keptIds === wantIds)
    // surviving rows are the original rows, not aggregates
    val origById = docs.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    kept.collect().foreach(r => assert(r === origById(r.getAs[Long]("doc_id"))))
  }

  test("incrementalExact dedups within the batch and against the seen store") {
    val seen = Seq("the quick brown fox jumps over the lazy dog")
      .toDF("t").select(graft.functions.TextFunctions.fingerprintMd5($"t").as("fp"))
    val batch = Seq(
      (10L, "the QUICK brown fox jumps over the lazy dog"), // dup of history
      (11L, "a genuinely new document"),
      (12L, "A genuinely NEW document!!"),                  // in-batch dup of 11
      (13L, "another new one")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalExact(batch, "text", "doc_id", seen)
    assert(got.select($"doc_id").as[Long].collect().toSet === Set(11L, 13L),
      "keeps min-id per batch fingerprint, drops history dups")
    // survivors carry the fingerprint the caller appends to the seen store
    assert(got.columns.contains("fingerprint"))
    val fps = got.select($"fingerprint").as[String].collect().toSet
    assert(fps.size === 2)
  }

  test("removeDuplicatedSpans cuts exactly the positions covered by cross-doc 8-grams") {
    val corpus = Seq(
      // A and B share the 8-gram x1..x8 at different offsets
      (1L, "x1 x2 x3 x4 x5 x6 x7 x8 a b c"),     // covered 1..8 -> keeps "a b c"
      (2L, "p q x1 x2 x3 x4 x5 x6 x7 x8"),       // covered 3..10 -> keeps "p q"
      // C and D are identical 9-word docs: grams at starts 1,2 both
      // duplicated -> every position covered in BOTH copies
      (3L, "m1 m2 m3 m4 m5 m6 m7 m8 m9"),
      (4L, "m1 m2 m3 m4 m5 m6 m7 m8 m9"),
      // identical but SHORT (<8 words): no grams, never touched
      (5L, "s1 s2 s3"),
      (6L, "s1 s2 s3"),
      // no duplicated grams at all
      (7L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicatedSpans(corpus, "text", "doc_id")
      .select($"doc_id", $"n_removed", $"text_clean")
      .as[(Long, Int, String)].collect().sortBy(_._1)
    val want = Seq(
      (1L, 8, "a b c"), (2L, 8, "p q"),
      (3L, 9, ""), (4L, 9, ""),
      (5L, 0, "s1 s2 s3"), (6L, 0, "s1 s2 s3"),
      (7L, 0, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"))
    assert(got.toSeq === want)
  }

  test("removeDuplicatedSpans honors minDocs and keeps within-doc repeats") {
    // the 8-gram repeats WITHIN doc 1 only — one distinct doc, not cut
    val corpus = Seq(
      (1L, "r1 r2 r3 r4 r5 r6 r7 r8 z r1 r2 r3 r4 r5 r6 r7 r8"),
      (2L, "unrelated words that do not collide with anything here at all")
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicatedSpans(corpus, "text", "doc_id")
      .where($"doc_id" === 1L).select($"n_removed").as[Int].head()
    assert(got === 0, "within-document repeats must not count toward minDocs")
  }

  test("shinglesFast UDF equals the declarative shingles column on the fixture") {
    val docsFx = spark.read.parquet(s"${TestSpark.sf}/documents.parquet").limit(100)
    val both = docsFx.select(
      Dedup.shingles($"text", 2).as("a"),
      Dedup.shinglesFast(2)($"text").as("b"))
      .as[(Seq[String], Seq[String])].collect()
    both.foreach { case (a, b) => assert(a === b) }
    val tri = docsFx.select(
      Dedup.shingles($"text", 3).as("a"),
      Dedup.shinglesFast(3)($"text").as("b"))
      .as[(Seq[String], Seq[String])].collect()
    tri.foreach { case (a, b) => assert(a === b) }
  }

  test("shingles: word bigrams, distinct; single-word text has none") {
    val sh = Seq("a b c a b").toDF("text")
      .select(Dedup.shingles($"text", 2).as("s")).as[Seq[String]].head()
    assert(sh.toSet === Set("a b", "b c", "c a"))
    val none = Seq("single").toDF("text")
      .select(Dedup.shingles($"text", 2).as("s")).as[Seq[String]].head()
    assert(none.isEmpty)
  }

  test("minhashBandKeysFast UDF equals the declarative signature+band pipeline") {
    val docsFx = spark.read.parquet(s"${TestSpark.sf}/documents.parquet").limit(100)
    val sh = docsFx.select(Dedup.shinglesFast(2)($"text").as("sh"))
      .where(size($"sh") > 0)
    val both = sh.select(
      Dedup.lshBandKeys(Dedup.minhashSignature($"sh", 12), bands = 4, rowsPerBand = 3).as("a"),
      Dedup.minhashBandKeysFast(12, 4)($"sh").as("b"))
      .as[(Seq[String], Seq[String])].collect()
    assert(both.nonEmpty)
    both.foreach { case (a, b) => assert(a === b) }
  }

  /** The band keys of [[Dedup.minhashSignatures]], written out from its
    * definition: hash i of a shingle is the splitmix64 finalizer of
    * `xxhash64(shingle) + (i + 1) * 0x9E3779B97F4A7C15`; each band folds its
    * signed minimums as `k = mix(k ^ m)` from `k = band`. */
  private def referenceBandKeys(hashes: Seq[Long], numHashes: Int, bands: Int): Seq[Long] = {
    def mix(x: Long): Long = {
      val a = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      val b = (a ^ (a >>> 27)) * 0x94d049bb133111ebL
      b ^ (b >>> 31)
    }
    val sig = (0 until numHashes).map(i => hashes.map(h => mix(h + (i + 1) * 0x9e3779b97f4a7c15L)).min)
    val rows = numHashes / bands
    (0 until bands).map(b => sig.slice(b * rows, (b + 1) * rows).foldLeft(b.toLong)((k, m) => mix(k ^ m)))
  }

  test("minhashSignatures' family: xxhash64 per shingle, a fixed mix per hash, " +
      "long band keys that depend only on the shingle set") {
    val docsFx = spark.read.parquet(s"${TestSpark.sf}/documents.parquet").limit(50)
    val sigs = Dedup.minhashSignatures(docsFx, "text", "doc_id", numHashes = 12, bands = 4)
    val longs = org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
    assert(sigs.schema("sh").dataType === longs)
    assert(sigs.schema("bands").dataType === longs)
    // the per-shingle hash is Spark's xxhash64 of the shinglesFast shingle
    val hashed = sigs
      .join(docsFx.select($"doc_id", transform(Dedup.shinglesFast(2)($"text"), x => xxhash64(x)).as("h")),
        "doc_id")
      .select($"doc_id", $"sh", $"h", $"bands")
      .as[(Long, Seq[Long], Seq[Long], Seq[Long])].collect()
    assert(hashed.nonEmpty)
    hashed.foreach { case (id, sh, h, bands) =>
      assert(sh === h.distinct.sorted, s"doc $id")
      assert(bands === referenceBandKeys(sh, 12, 4), s"doc $id")
    }
    // a cycle of words read from another start, twice over, has the same
    // bigram set in another order with repeats: it keys the same buckets
    val ws = (1 to 30).map(i => s"w$i")
    val rot = ws.drop(11) ++ ws.take(11)
    val cyc = Seq((1L, (ws :+ ws.head).mkString(" ")), (2L, (rot ++ rot :+ rot.head).mkString(" ")))
      .toDF("doc_id", "text")
    val Array(a, b) = Dedup.minhashSignatures(cyc, "text", "doc_id", numHashes = 12, bands = 4)
      .orderBy($"doc_id").select($"sh", $"bands").as[(Seq[Long], Seq[Long])].collect()
    assert(a._1.size === 30)
    assert(b === a)
  }

  test("minhashSignatures' sh is the sorted distinct shingleHash of shinglesFast, " +
      "and its bands are the reference keys, for n = 1, 2, 3") {
    val texts = Seq(
      "alpha\tbeta\ngamma\u000Bdelta\fepsilon\rzeta eta",
      "mixed \t\n\r  runs\u000B\f of \t\t  white \n\n space",
      "  \t leading and trailing \n ",
      "no\u00A0break and em\u2003space inside words",
      "\u0130stanbul STRASSE stra\u00DFe \u00DF \uD83D\uDE00 emoji \uD83D\uDE00 emoji",
      "a b a b a b c a b",
      "one",
      "two words",
      "",
      null)
    val docsT = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (n <- 1 to 3) {
      val want = docsT.select($"doc_id", Dedup.shinglesFast(n)($"text"))
        .as[(Long, Seq[String])].collect()
        .map { case (id, sh) => id -> sh.map(Dedup.shingleHash).distinct.sorted }
        .filter(_._2.nonEmpty).toMap
      val got = Dedup.minhashSignatures(docsT, "text", "doc_id", numHashes = 12, bands = 4, ngram = n)
        .select($"doc_id", $"sh", $"bands").as[(Long, Seq[Long], Seq[Long])].collect()
      assert(got.map(_._1).toSet === want.keySet, s"n = $n")
      got.foreach { case (id, sh, bands) =>
        assert(sh === want(id), s"n = $n, doc $id")
        assert(bands === referenceBandKeys(sh, 12, 4), s"n = $n, doc $id")
      }
    }
  }

  test("minhashNearDupPairsFromSigs refuses a long sh that is not strictly ascending") {
    def sigs(sh1: Seq[Long]) = Seq((1L, sh1, Seq(7L, 8L)), (2L, Seq(3L, 5L, 9L), Seq(7L, 9L)))
      .toDF("doc_id", "sh", "bands")
    assert(Dedup.minhashNearDupPairsFromSigs(sigs(Seq(3L, 5L, 9L)), threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSeq === Seq((1L, 2L, 1.0)))
    for (sh1 <- Seq(Seq(5L, 3L, 9L), Seq(3L, 3L, 9L))) {
      val ex = intercept[Exception] {
        Dedup.minhashNearDupPairsFromSigs(sigs(sh1), threshold = 0.5).collect()
      }
      val chain = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(e => e.isInstanceOf[IllegalArgumentException] &&
        e.getMessage.contains("not strictly ascending")), s"sh $sh1: $ex")
    }
  }

  /** The RDDs that `f` registers as persisted and leaves registered. RDDs
    * it unregisters are not counted: the context cleaner may free an
    * earlier test's blocks at any time. */
  private def persistedBy(f: => Any): Map[Int, org.apache.spark.rdd.RDD[_]] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    f
    spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }.toMap
  }

  test("a dedup stage that throws leaves no signature frame cached") {
    val boom = udf { (id: Long) =>
      if (id == 3L) throw new IllegalStateException("boom")
      Seq(id % 2, 7L)
    }
    // a range, not a local relation: the optimizer would run the UDF on a
    // local relation's rows while planning, before anything is cached
    val sigs = spark.range(1L, 7L)
      .select($"id".as("doc_id"), array(lit(1L), lit(2L)).as("sh"), boom($"id").as("bands"))
    val none = org.apache.spark.storage.StorageLevel.NONE
    assert(persistedBy(intercept[Exception](
      Dedup.minhashNearDupPairsFromSigs(sigs, threshold = 0.5).collect())).isEmpty)
    assert(sigs.storageLevel === none)
    // a throw in the verify job: a long sh that is not strictly ascending
    val unsorted = Seq((1L, Seq(5L, 3L, 9L), Seq(7L, 8L)), (2L, Seq(3L, 5L, 9L), Seq(7L, 9L)))
      .toDF("doc_id", "sh", "bands")
    assert(persistedBy(intercept[Exception](
      Dedup.minhashNearDupPairsFromSigs(unsorted, threshold = 0.5).collect())).isEmpty)
    // a throw between the two jobs: a bucket over the checked bound
    val same = Dedup.minhashSignatures((1L to 5L).map(i => (i, "alpha beta gamma delta"))
      .toDF("doc_id", "text"), "text", "doc_id", numHashes = 12, bands = 4)
    assert(persistedBy(intercept[IllegalStateException](
      Dedup.minhashNearDupPairsFromSigs(same, threshold = 0.5, maxBucket = 4,
        requireBucketBound = true))).isEmpty)
    // a call that returns leaves only the local checkpoint of its pairs
    var pairs: org.apache.spark.sql.DataFrame = null
    val kept = persistedBy { pairs = Dedup.minhashNearDupPairsFromSigs(same, threshold = 0.5) }
    assert(pairs.count() === 10L)
    assert(kept.size === 1 && kept.values.forall(_.isCheckpointed), kept)
    val (odd, even) = (sigs.where($"doc_id" % 2 === 1), sigs.where($"doc_id" % 2 === 0))
    intercept[Exception](Dedup.minhashIncrementalPairsFromSigs(odd, even, threshold = 0.5).collect())
    assert(odd.storageLevel === none)
    assert(even.storageLevel === none)
  }

  test("minhash-LSH surfaces the near-dup pair and skips unrelated docs") {
    val pairs = Dedup.minhashNearDupPairs(docs, "text", "doc_id",
      numHashes = 12, bands = 6, threshold = 0.4)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L)) || pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("signature-table paths are row-identical to the inline minhash/jaccard forms") {
    val docsFx = spark.read.parquet(s"${TestSpark.sf}/documents.parquet").limit(200)
    val sigs = Dedup.minhashSignatures(docsFx, "text", "doc_id",
      numHashes = 12, bands = 4).localCheckpoint()
    // pair graph from sigs == inline pair graph
    val inlinePairs = Dedup.minhashNearDupPairs(docsFx, "text", "doc_id",
      numHashes = 12, bands = 4, threshold = 0.30).collect().toSet
    val sigPairs = Dedup.minhashNearDupPairsFromSigs(sigs, threshold = 0.30,
      requireBucketBound = true).collect().toSet
    assert(sigPairs === inlinePairs)
    // incremental from sigs (id-parity restriction of the shared table)
    // == inline incremental on the pre-filtered corpora
    val inlineInc = Dedup.minhashIncrementalPairs(
      docsFx.where(pmod($"doc_id", lit(2)) === 1),
      docsFx.where(pmod($"doc_id", lit(2)) === 0),
      "text", "doc_id", numHashes = 12, bands = 4, threshold = 0.30)
      .collect().toSet
    val sigInc = Dedup.minhashIncrementalPairsFromSigs(
      sigs.where(pmod($"doc_id", lit(2)) === 1),
      sigs.where(pmod($"doc_id", lit(2)) === 0),
      threshold = 0.30).collect().toSet
    assert(sigInc === inlineInc)
    // exact-jaccard from the sig table's shingle column == inline form
    val inlineJac = Dedup.ngramJaccardPairs(docsFx, "text", "doc_id",
      n = 2, threshold = 0.30).collect().toSet
    val sigJac = Dedup.ngramJaccardPairsFromShingles(
      sigs.select($"doc_id", $"sh"), threshold = 0.30).collect().toSet
    assert(sigJac === inlineJac)
  }

  test("requireBucketBound fails loudly when a band bucket exceeds maxBucket") {
    // 5 identical docs -> every band bucket has 5 members; bound of 4 must throw
    val same = (1L to 5L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(same, "text", "doc_id",
      numHashes = 12, bands = 4)
    val ex = intercept[IllegalStateException] {
      Dedup.minhashNearDupPairsFromSigs(sigs, threshold = 0.30,
        maxBucket = 4, requireBucketBound = true).collect()
    }
    assert(ex.getMessage.contains("maxBucket"))
    // unchecked form silently drops the oversized buckets (the dedup default)
    assert(Dedup.minhashNearDupPairsFromSigs(sigs, threshold = 0.30,
      maxBucket = 4).count() === 0L)
  }

  /** Brute-force reference for [[Dedup.minhashNearDupPairsFromSigs]]: the
    * exact shingle-Jaccard pairs of the whole frame, kept when the two docs
    * share at least one band bucket of at most `maxBucket` members
    * (bucket sizes counted on the driver). */
  private def bandedReference(sigs: org.apache.spark.sql.DataFrame, threshold: Double,
                              maxBucket: Int): Set[(Any, Any, Double)] = {
    // ids and band keys of either type: longs from minhashSignatures, md5
    // hex strings from the md5 frame, string ids from the caller
    val bands = sigs.select($"doc_id", $"bands").collect()
      .map(r => r.get(0) -> r.getSeq[Any](1)).toMap
    val members = bands.values.flatMap(_.zipWithIndex).groupBy(identity).map {
      case (k, v) => k -> v.size }
    def bounded(a: Any, b: Any): Boolean =
      bands(a).indices.exists(c => bands(a)(c) == bands(b)(c) && members((bands(a)(c), c)) <= maxBucket)
    triples(Dedup.ngramJaccardPairsFromShingles(sigs.select($"doc_id", $"sh"), threshold))
      .filter { case (a, b, _) => bounded(a, b) }.toSet
  }

  private def triples(pairs: org.apache.spark.sql.DataFrame): Array[(Any, Any, Double)] =
    pairs.select($"id1", $"id2", $"jaccard").collect().map(r => (r.get(0), r.get(1), r.getDouble(2)))

  /** The pairs of `minhashNearDupPairsFromSigs`, checked to hold no
    * repeated (id1, id2). */
  private def distinctPairs(sigs: org.apache.spark.sql.DataFrame, threshold: Double,
                            maxBucket: Int): Set[(Any, Any, Double)] = {
    val rows = triples(Dedup.minhashNearDupPairsFromSigs(sigs, threshold, maxBucket))
    assert(rows.map(r => (r._1, r._2)).distinct.length === rows.length,
      "a pair was emitted more than once")
    rows.toSet
  }

  test("minhash pairs equal the brute-force Jaccard pairs restricted to bounded " +
      "shared buckets (sf and planted-dup fixtures)") {
    val sf = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select($"doc_id", $"text")
    // planted: 40 base docs, a one-word edit of each of the first 20, and
    // 8 docs of one template (a skewed bucket)
    val base = sf.limit(40).localCheckpoint()
    val planted = base
      .union(base.limit(20).select(($"doc_id" + 10000L).as("doc_id"),
        regexp_replace($"text", "^\\S+", "edited")))
      .union(spark.range(8).select(($"id" + 20000L).as("doc_id"),
        concat(lit("terms of service apply to every page of this site "),
          $"id".cast("string")).as("text")))
    // both frame forms: XXH64 hashes with long keys, and the md5 frame the
    // oracle cells build (shingle strings, md5 hex keys)
    for ((fixture, name) <- Seq(sf -> "sf", planted -> "planted");
         (frame, form) <- Seq(
           Dedup.minhashSignatures(fixture, "text", "doc_id", numHashes = 12, bands = 4) -> "xxh64",
           SparkEntry.minhashSigsMd5(fixture) -> "md5")) {
      val sigs = frame.localCheckpoint()
      for (threshold <- Seq(0.30, 0.05); maxBucket <- Seq(1000, 3)) {
        val want = bandedReference(sigs, threshold, maxBucket)
        if (maxBucket == 1000) assert(want.nonEmpty, s"$name $form fixture has no pairs")
        assert(distinctPairs(sigs, threshold, maxBucket) === want,
          s"$name $form fixture, threshold $threshold, maxBucket $maxBucket")
      }
    }
  }

  test("minhash pairs keep String doc_ids and order them as Spark does, on both frame forms") {
    // U+FF61 sorts before U+1F600 in UTF-8 bytes (Spark's string order) but
    // after its UTF-16 surrogates (java.lang.String.compareTo)
    val (half, emoji) = ("\uFF61 copy", "\uD83D\uDE00 copy")
    val fox = "the quick brown fox jumps over the lazy dog"
    val tos = "terms of service apply to every page of this site"
    val docsS = Seq(("b", fox), ("a", fox + " again"), (emoji, tos), (half, tos),
      ("c", "completely different content about spark engines and parquet files"))
      .toDF("doc_id", "text")
    for ((frame, form) <- Seq(
           Dedup.minhashSignatures(docsS, "text", "doc_id", numHashes = 12, bands = 4) -> "xxh64",
           SparkEntry.minhashSigsMd5(docsS) -> "md5")) {
      val sigs = frame.localCheckpoint()
      val got = Dedup.minhashNearDupPairsFromSigs(sigs, threshold = 0.5)
      assert(got.schema.map(_.dataType).take(2) ===
        Seq(org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType), form)
      val pairs = triples(got).toSet
      assert(pairs === bandedReference(sigs, threshold = 0.5, maxBucket = 1000), form)
      assert(pairs.map(p => (p._1, p._2)) === Set(("a", "b"), (half, emoji)), form)
    }
  }

  test("the md5 signature frame builds each doc's shingles above the spread exchange") {
    val docsFx = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val plan = SparkEntry.minhashSigsMd5(docsFx).queryExecution.executedPlan
    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        nodes(a.executedPlan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val exchanges = nodes(plan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, s"the fixture must be spread for the check to mean anything: $plan")
    val udfsBelow = exchanges.flatMap(e => nodes(e.child)).flatMap(_.expressions)
      .flatMap(_.collect { case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u })
    assert(udfsBelow.isEmpty, plan)
  }

  test("a pair whose lowest shared bucket is oversize comes once from a higher bounded band") {
    // band 0: docs 1-4 share "big" (4 members > maxBucket 3); docs 1, 2 also
    // share band 1, docs 3, 4 share bands 2 and 3, each bucket of 2
    val sh = Seq("a b", "b c", "c d", "d e")
    val sigs = Seq(
      (1L, sh, Seq("big", "k12", "u1", "v1")),
      (2L, sh, Seq("big", "k12", "u2", "v2")),
      (3L, sh :+ "e f", Seq("big", "u3", "k34", "m34")),
      (4L, sh :+ "e f", Seq("big", "u4", "k34", "m34")),
      (5L, sh, Seq("w5", "u5", "x5", "v5"))
    ).toDF("doc_id", "sh", "bands")
    val got = distinctPairs(sigs, threshold = 0.5, maxBucket = 3)
    assert(got === Set((1L, 2L, 1.0), (3L, 4L, 1.0)))
    assert(got === bandedReference(sigs, threshold = 0.5, maxBucket = 3))
    // with the bound raised, the band-0 bucket pairs all four docs
    assert(distinctPairs(sigs, threshold = 0.5, maxBucket = 4).map(p => (p._1, p._2)) ===
      Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
  }

  test("minhash jaccard estimate matches exact jaccard on candidates") {
    val mh = Dedup.minhashNearDupPairs(docs, "text", "doc_id",
      numHashes = 12, bands = 6, threshold = 0.0)
      .select($"id1", $"id2", $"jaccard").as[(Long, Long, Double)].collect().toMap2
    val ex = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 2, threshold = 0.0)
      .select($"id1", $"id2", $"jaccard").as[(Long, Long, Double)].collect().toMap2
    // candidate pairs carry the EXACT jaccard (verify stage) -> must agree
    mh.keySet.intersect(ex.keySet).foreach { k => assert(mh(k) === ex(k)) }
  }

  private implicit class Tup3Ops(rows: Array[(Long, Long, Double)]) {
    def toMap2: Map[(Long, Long), Double] = rows.map(r => (r._1, r._2) -> r._3).toMap
  }

  test("simhash32Fast UDF is bit-identical to the declarative simhash32") {
    val docsFx = spark.read.parquet(s"${TestSpark.sf}/documents.parquet").limit(200)
    val both = docsFx.select(
      Dedup.simhash32($"text").as("a"),
      Dedup.simhash32Fast($"text").as("b"))
      .as[(String, String)].collect()
    assert(both.nonEmpty)
    both.foreach { case (a, b) => assert(a === b) }
  }

  test("simhash: similar docs have small hamming distance, dissimilar large") {
    def hamming(a: String, b: String): Int = a.zip(b).count { case (x, y) => x != y }
    val h = docs.select($"doc_id", Dedup.simhash32($"text").as("sh"))
      .as[(Long, String)].collect().toMap
    assert(h(1L).length === 32)
    assert(hamming(h(1L), h(3L)) < hamming(h(1L), h(4L)))
  }

  test("embedding near-dup pairs finds identical vectors") {
    val vecs = Seq(
      (1L, Seq(1f, 0f, 0f)), (2L, Seq(1f, 0.01f, 0f)), (3L, Seq(0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(vecs, "embedding", "vec_id", 0.99, dim = 3)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("bucketed embedding near-dup has recall 1 vs the exact all-pairs form at gate parameters") {
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val exact = Dedup.embeddingNearDupPairsExact(emb, "embedding", "vec_id", 0.45)
      .select($"id1", $"id2", $"cosine").as[(Long, Long, Double)].collect().toSet
    val bucketed = Dedup.embeddingNearDupPairs(emb, "embedding", "vec_id", 0.45, dim = 64)
      .select($"id1", $"id2", $"cosine").as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty, "fixture must contain near-dup pairs for this test to bite")
    assert(bucketed === exact, "bucketed candidates must not miss any true pair")
  }

  test("embedding candidate generation prunes hard at production thresholds") {
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val n = emb.count()
    val allPairs = n * (n - 1) / 2
    // 8-bit codes, few tables: the configuration a 0.85+ threshold calls
    // for (per-hyperplane p >= 0.82 -> p^8 ~ 0.2 per table). The candidate
    // set must be a small fraction of n^2 — this is the property that makes
    // the operator usable at 100 TB, where all-pairs is not a plan.
    val cands = Dedup.embeddingCandidatePairs(emb, "embedding", "vec_id",
      dim = 64, nBits = 8, nTables = 4).count()
    assert(cands < allPairs / 4,
      s"expected strong pruning: $cands candidates of $allPairs pairs")
    // and the bucketed operator at that tight threshold still equals exact
    val exact = Dedup.embeddingNearDupPairsExact(emb, "embedding", "vec_id", 0.90)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    val bucketed = Dedup.embeddingNearDupPairs(emb, "embedding", "vec_id", 0.90,
      dim = 64, nBits = 8, nTables = 4)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(bucketed.subsetOf(exact), "verify stage must keep only true pairs")
  }

  test("resolveKeepBest elects highest score per cluster, lowest id on ties") {
    import graft.operators.Dedup
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("doc_id", "cluster_id")
    val scored = Seq((1L, 10.0), (2L, 50.0), (3L, 50.0), (7L, 5.0), (8L, 5.0))
      .toDF("doc_id", "quality")
    val got = Dedup.resolveKeepBest(clusters, scored)
      .select($"cluster_id", $"keep_id", $"keep_quality", $"n_members")
      .as[(Long, Long, Double, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 2L, 50.0, 3L), (7L, 7L, 5.0, 2L)))
  }

  test("connected components: chain merges transitively, disjoint pair stays apart") {
    val pairs = Seq((10L, 20L), (20L, 30L), (40L, 50L)).toDF("id1", "id2")
    val comps = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps === Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 40L, 50L -> 40L))
  }

  test("connected components: empty pair graph yields an empty label frame") {
    // a corpus with no near-dup pairs must produce zero clusters, not NPE
    // (sum(comp) over zero rows observes null — ADVICE r2 regression)
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    val comps = Dedup.connectedComponents(empty).as[(Long, Long)].collect()
    assert(comps.isEmpty)
  }

  test("levenshtein near-dup blocking+bag+banded pipeline is lossless vs brute force") {
    // the blocked join (own-bucket left × {own-1,own,own+1} salted right),
    // the char-bag L1 prefilter, and the early-exit banded verify must
    // together return EXACTLY the all-pairs thresholded result
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val got = Dedup.levenshteinNearDupPairs(docs, "text", "doc_id",
        maxDist = 24, window = 128, bucketWidth = 32)
      .select("id1", "id2", "edit_dist")
    val pre = docs.select(col("doc_id"),
      substring(graft.functions.TextFunctions.cleanseText(col("text")), 1, 128).as("pre"))
    val want = pre.alias("a").join(pre.alias("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        levenshtein(col("a.pre"), col("b.pre")).as("edit_dist"))
      .where(col("edit_dist") <= 24)
    assert(got.exceptAll(want).union(want.exceptAll(got)).count() === 0)
    assert(got.count() > 0) // the fixture must actually exercise the verify
  }

  test("winnowing: detection guarantee, density bound, and short-doc cutoff") {
    // docs sharing a 6-word run (= gram + window - 1 for 3/4) MUST share a fp
    val shared = "alpha beta gamma delta epsilon zeta"
    val df = Seq(
      (1L, s"one two three $shared four five six seven"),
      (2L, s"red green blue $shared yellow purple pink brown"),
      (3L, "completely different words with no overlap here at all today"),
      (4L, "too short here")   // < gram + window - 1 words -> no full window
    ).toDF("doc_id", "text")
    val sel = Dedup.winnowFingerprints(df, "text", "doc_id")
      .as[(Long, Int, Long)].collect()
    val byDoc = sel.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty,
      "shared 6-word run must produce a shared fingerprint")
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty)
    assert(!byDoc.contains(4L))
    // density: selected grams ≤ windows, and strictly fewer than all grams
    val doc3Grams = 10 - 3 + 1
    assert(byDoc(3L).size < doc3Grams)
    // determinism incl. under repartition
    val again = Dedup.winnowFingerprints(df.repartition(5), "text", "doc_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(again === sel.toSet)
  }

  test("connected components: 64-node chain converges via pointer jumping") {
    // worst-case topology for plain min-propagation (diameter 63); pointer
    // jumping must still resolve everything to the chain head. Budget 0
    // forces the DISTRIBUTED loop (the fixture would otherwise take the
    // driver-resident tier).
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("id1", "id2")
    val comps = Dedup.connectedComponents(chain, driverEdgeBudget = 0L)
      .as[(Long, Long)].collect().toMap
    assert(comps.size === 64)
    assert(comps.values.toSet === Set(1L))
  }

  test("connected components: the driver-resident union-find tier labels " +
      "exactly like the distributed loop (chain + cliques + singleton pair)") {
    // chain 1..20, a 5-clique on 100..104, a triangle with shared min 1
    // (joins the chain's component), and an isolated pair
    val edges = ((1L until 20L).map(i => (i, i + 1)) ++
      (for { a <- 100L to 104L; b <- 100L to 104L if a < b } yield (a, b)) ++
      Seq((1L, 500L), (500L, 501L), (900L, 901L))).toDF("id1", "id2")
    val viaDriver = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap // fixture is far under the budget
    val viaLoop = Dedup.connectedComponents(edges, driverEdgeBudget = 0L)
      .as[(Long, Long)].collect().toMap
    assert(viaDriver === viaLoop)
    assert(viaDriver(501L) === 1L && viaDriver(104L) === 100L &&
      viaDriver(901L) === 900L)
  }

  test("iterative loops never write the shared session conf (concurrent " +
      "queries keep the session's shuffle width)") {
    // the loop-scoped shuffle width lives on a session CLONE
    // (SessionBridge.scopedShuffle); the r7 form set/restored
    // spark.sql.shuffle.partitions on the SHARED session, so a concurrent
    // query could plan its corpus-sized shuffle at the loop's 1-2
    // partitions. Poll the shared conf at ~1ms while the operators run —
    // the old write was held across the whole multi-second loop, so any
    // regression is caught with margin.
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    @volatile var running = true
    @volatile var dirty: Option[String] = None
    val poller = new Thread(() => {
      while (running) {
        val v = spark.conf.get("spark.sql.shuffle.partitions")
        if (v != before && dirty.isEmpty) dirty = Some(v)
        Thread.sleep(1)
      }
    })
    poller.start()
    try {
      // budget 0 forces the distributed loop — the conf-write hazard under test
      val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id1", "id2")
      assert(Dedup.connectedComponents(chain, driverEdgeBudget = 0L).count() === 40)
      val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
      val edges = graft.operators.GraphAnn.knnGraph(
        emb.where($"vec_id" < 200), m = 4, nBits = 3, nTables = 2, dim = 64)
      // budget 0 forces the distributed walk, whose loop runs on the
      // walkSession clone
      val queries = emb.where($"vec_id" < 3)
        .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
      val got = graft.operators.GraphAnn.beamSearch(
        emb.where($"vec_id" < 200), edges, queries, k = 5, beam = 4,
        rounds = 2, driverCorpusBudget = 0L)
      assert(got.count() > 0)
    } finally { running = false; poller.join() }
    assert(dirty.isEmpty, s"shared session conf mutated to $dirty mid-run")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
  }
}
