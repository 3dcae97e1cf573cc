package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraftVectorStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("full reference lifecycle through the facade: create -> add -> search -> answers -> history -> drop") {
    val path = java.nio.file.Files.createTempDirectory("graft_store").toString + "/idx"
    val store = new GraftVectorStore(spark, path)
    assert(!store.indexExists())

    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select($"source".as("document_path"), $"text")
    store.addDocuments(docs, alias = "tenant_a", pageSize = 32)
    assert(store.indexExists())

    val hits = store.search("fast spark table scan query", "tenant_a", topN = 5)
    assert(hits.count() === 5)
    val sims = hits.select($"similarity").as[Double].collect().toSeq
    assert(sims === sims.sorted.reverse)

    val ans = store.answers("fast spark table scan query", "tenant_a", topN = 3, threshold = 40)
    val n = ans.count()
    assert(n > 0 && n <= 3)
    assert(ans.columns.toSeq === Seq("answer", "score", "content", "source", "similarity", "page"))

    store.logQuery("fast spark table scan query", n)
    assert(store.history().count() === 1)

    store.dropIndex()
    assert(!store.indexExists())
  }

  test("hybrid search: RRF-fused lexical+vector hits; a unique term's doc always surfaces") {
    val path = java.nio.file.Files.createTempDirectory("graft_store_h").toString + "/idx"
    val store = new GraftVectorStore(spark, path)
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .limit(40)
      .select($"source".as("document_path"), $"text")
      // plant one doc holding a corpus-unique term
      .union(Seq(("planted/doc", "zanzibar framework powers the hybrid lexical path"))
        .toDF("document_path", "text"))
    store.addDocuments(docs, "t", pageSize = 32)

    val hits = store.searchHybrid("zanzibar query", "t", topN = 5)
    assert(hits.columns.toSeq === Seq("id", "index_alias", "document_path",
      "page_number", "page_content", "rrf_score", "rank"))
    val rows = hits.select($"document_path", $"rrf_score", $"rank")
      .as[(String, Double, Int)].collect()
    assert(rows.length === 5)
    assert(rows.map(_._3).toSeq === (1 to 5))
    assert(rows.map(_._2).toSeq === rows.map(_._2).sortBy(-(_: Double)).toSeq)
    // "zanzibar" appears in exactly one doc: BM25 must force it into the fused top
    assert(rows.exists(_._1 == "planted/doc"),
      s"unique-term doc missing from hybrid top-5: ${rows.mkString(", ")}")
    store.dropIndex()
  }

  test("re-ingesting a document upserts: newest record wins, no duplicate ids in search") {
    val path = java.nio.file.Files.createTempDirectory("graft_store3").toString + "/idx"
    val store = new GraftVectorStore(spark, path)
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select($"source".as("document_path"), $"text").limit(10)
    store.addDocuments(docs, "t", pageSize = 32)
    store.addDocuments(docs.withColumn("text", upper($"text")), "t", pageSize = 32)
    val hits = store.search("fast spark table scan query", "t", topN = 100)
    assert(hits.groupBy($"id").count().where($"count" > 1).count() === 0)
    // the surviving content is the second generation (uppercased)
    val contents = hits.select($"page_content").as[String].collect()
    assert(contents.forall(c => c == c.toUpperCase))

    // compaction applies the upserts physically; search results unchanged
    val beforeCompact = hits.select($"id", $"page_content")
      .as[(String, String)].collect().toSet
    val survivors = store.compactIndex("t")
    // IndexTable.read is the physical post-compaction view (newest committed
    // generation + unfolded deltas): exactly the survivors, no stale copies
    assert(survivors === operators.IndexTable.read(spark, path, "t").count())
    val after = store.search("fast spark table scan query", "t", topN = 100)
      .select($"id", $"page_content").as[(String, String)].collect().toSet
    assert(after === beforeCompact)
  }

  test("searchAsOf answers from the snapshot, search from the present") {
    val path = java.nio.file.Files.createTempDirectory("graft_store_asof").toString + "/idx"
    val store = new GraftVectorStore(spark, path)
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select($"source".as("document_path"), $"text").limit(10)
    store.addDocuments(docs, "t", pageSize = 32)
    store.compactIndex("t")
    val Seq(genA) = store.indexGenerations("t")

    // overwrite every doc with marker text, fold again
    store.addDocuments(docs.withColumn("text",
      concat(lit("asofmarker "), $"text")), "t", pageSize = 32)
    store.compactIndex("t")
    assert(store.indexGenerations("t").size === 2)

    val now = store.search("fast spark table scan query", "t", topN = 5)
      .select($"page_content").as[String].collect()
    val asOf = store.searchAsOf("fast spark table scan query", "t", genA, topN = 5)
      .select($"page_content").as[String].collect()
    assert(now.exists(_.contains("asofmarker")),
      "present-day search must see the overwrite")
    assert(!asOf.exists(_.contains("asofmarker")),
      "as-of search must answer from the pre-overwrite snapshot")
  }

  test("binary-sketch store: Hamming-swept approximate search matches exact at full candidates") {
    val path = java.nio.file.Files.createTempDirectory("graft_binstore").toString + "/idx"
    val store = new GraftVectorStore(spark, path, binaryCandidates = Some(64))
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select($"source".as("document_path"), $"text")
    store.addDocuments(docs, "t", pageSize = 32)
    val approx = store.search("fast spark table scan query", "t", topN = 5,
      approximate = true, probeDepth = 4)
    assert(approx.columns.toSeq === Seq("id", "index_alias", "document_path",
      "page_number", "page_content", "similarity"))
    val aRows = approx.select($"id", $"similarity").as[(String, Double)].collect()
    assert(aRows.length === 5)
    assert(aRows.map(_._2).toSeq === aRows.map(_._2).sortBy(-(_: Double)).toSeq)
    // with a candidate pool this deep on the small fixture, the re-ranked
    // top must overlap the exact top heavily
    val exact = store.search("fast spark table scan query", "t", topN = 5)
      .select($"id").as[String].collect().toSet
    assert(aRows.map(_._1).toSet.intersect(exact).size >= 3,
      "binary sweep + re-rank must land mostly inside the exact top set")
    // no persisted structure: appends don't invalidate anything
    assert(!new java.io.File(s"$path/_graft_knn_graph").exists())

    // The facade's two-scan search equals the batch operator
    // (hammingTopK over the latest view + join back to the rows), order
    // included, at candidate pools from topN (4 is clamped up to 5) to 64,
    // in every store state: deltas only, compacted, an upsert and a delete
    // pending over a generation, compacted again.
    val narrow = new GraftVectorStore(spark, path, binaryCandidates = Some(4))
    val prompts = Seq("fast spark table scan query", "distributed join shuffle",
      "vector index")
    def reference(prompt: String, topN: Int, candidates: Int): Seq[(String, Double)] = {
      val nodes = graft.operators.IndexTable.readLatest(spark, path, "t")
        .withColumn("__nid", xxhash64($"id"))
      val q = Seq((-1L, graft.functions.Embedder.embedQuery(prompt).toSeq))
        .toDF("q_id", "q_vec")
      graft.operators.BinaryQuant.hammingTopK(nodes, q, k = topN,
          candidates = math.max(candidates, topN),
          corpusVec = "page_content_vector", corpusId = "__nid")
        .join(nodes, Seq("__nid")).orderBy($"rank")
        .select($"id", $"similarity").as[(String, Double)].collect().toSeq
    }
    def assertEquivalent(state: String): Unit =
      for (prompt <- prompts;
           (s, perDepth, depth) <- Seq((narrow, 4, 1), (narrow, 4, 3), (store, 64, 1))) {
        val got = s.search(prompt, "t", topN = 5, approximate = true, probeDepth = depth)
          .select($"id", $"similarity").as[(String, Double)].collect().toSeq
        assert(got.nonEmpty)
        assert(got === reference(prompt, 5, perDepth * depth),
          s"$state: '$prompt' at ${perDepth * depth} candidates")
      }
    assertEquivalent("after addDocuments")
    store.compactIndex("t")
    assertEquivalent("after compactIndex")
    val paths = docs.select($"document_path").distinct().as[String]
      .collect().sorted
    store.addDocuments(Seq((paths(0), "a vector index rewritten by an upsert"))
      .toDF("document_path", "text"), "t", pageSize = 32)
    store.deleteDocuments(Seq(paths(1)), "t")
    assert(graft.operators.IndexTable.deltaFileCount(spark, path, "t") > 0)
    assertEquivalent("with an upsert and a delete pending")
    store.compactIndex("t")
    assert(graft.operators.IndexTable.deltaFileCount(spark, path, "t") === 0)
    assertEquivalent("after the second compactIndex")
    store.dropIndex()
  }

  /** The facade's approximate hits as (id, similarity), and the batch
    * operator's: [[graft.operators.BinaryQuant.hammingTopK]] over the latest
    * view, joined back to the rows in rank order. */
  private def approximateHits(store: GraftVectorStore, prompt: String,
                              topN: Int): Seq[(String, Double)] =
    store.search(prompt, "t", topN = topN, approximate = true)
      .select($"id", $"similarity").as[(String, Double)].collect().toSeq

  private def hammingReference(path: String, prompt: String, topN: Int,
                               candidates: Int): Seq[(String, Double)] = {
    val nodes = graft.operators.IndexTable.readLatest(spark, path, "t")
      .withColumn("__nid", xxhash64($"id"))
    val q = Seq((-1L, graft.functions.Embedder.embedQuery(prompt).toSeq)).toDF("q_id", "q_vec")
    graft.operators.BinaryQuant.hammingTopK(nodes, q, k = topN,
        candidates = math.max(candidates, topN),
        corpusVec = "page_content_vector", corpusId = "__nid")
      .join(nodes, Seq("__nid")).orderBy($"rank")
      .select($"id", $"similarity").as[(String, Double)].collect().toSeq
  }

  test("binary-sketch store: ties on hamming and on similarity break on xxhash64(id) as " +
      "in the batch form, over several partitions, at topN = 0 and past the tenant's size") {
    import graft.operators.{BinaryQuant, IndexTable, KnnSearch}
    val path = java.nio.file.Files.createTempDirectory("graft_binties").toString + "/idx"
    val store = new GraftVectorStore(spark, path, binaryCandidates = Some(3))
    // each text under four paths, in four batches: equal pages have equal
    // sign words and equal similarity. Two batches are compacted and two
    // stay delta files, so the tenant's rows span several partitions.
    val texts = Seq("okapi tapir pangolin narwhal", "fast spark table scan query",
      "vector index cosine search", "cooking dinner tonight with friends")
    (0 until 4).foreach { b =>
      store.addDocuments(texts.indices.map(t => (s"dup/$t/${(t + b) % 4}", texts(t)))
        .toDF("document_path", "text"), "t", pageSize = 32)
      if (b == 1) store.compactIndex("t")
    }
    store.addDocuments(spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select($"source".as("document_path"), $"text").limit(8), "t", pageSize = 32)
    assert(IndexTable.deltaFileCount(spark, path, "t") > 0)
    assert(IndexTable.serving(spark, path, "t")(_.rows.getNumPartitions) > 1)
    val size = IndexTable.readLatest(spark, path, "t").count().toInt
    val pools = Seq(3, 5, size, size * 4)
    val stores = pools.map(c => c -> new GraftVectorStore(spark, path, binaryCandidates = Some(c)))
    // the sketch of every row, to see that the cut falls inside a tie
    val sketch = IndexTable.readLatest(spark, path, "t")
      .select($"id", $"page_content_vector").as[(String, Array[Float])].collect()
    var cutTies, rankTies = 0
    for (prompt <- texts :+ "spark table"; (pool, s) <- stores; topN <- Seq(2, 5)) {
      val got = approximateHits(s, prompt, topN)
      val candidates = math.max(pool, topN)
      assert(got === hammingReference(path, prompt, topN, candidates),
        s"'$prompt', topN $topN, $candidates candidates")
      val q = graft.functions.Embedder.embedQuery(prompt)
      val (q0, q1) = (BinaryQuant.packWord(q, 0), BinaryQuant.packWord(q, 32))
      val order = sketch.map { case (id, v) =>
        (java.lang.Long.bitCount(BinaryQuant.packWord(v, 0) ^ q0) +
          java.lang.Long.bitCount(BinaryQuant.packWord(v, 32) ^ q1), BinaryQuant.nodeId(id))
      }.sorted
      if (candidates < size && order(candidates - 1)._1 == order(candidates)._1) cutTies += 1
      if (got.map(_._2).distinct.size < got.size) rankTies += 1
    }
    assert(cutTies > 0, "no candidate cut fell inside a hamming tie")
    assert(rankTies > 0, "no top-k held a similarity tie")
    // topN = 0 is an empty answer with the hit schema
    val none = store.search(texts.head, "t", topN = 0, approximate = true)
    assert(none.schema === KnnSearch.hitSchema)
    assert(none.collect().isEmpty)
    store.dropIndex()
  }

  test("a binary-sketch store refuses a pool below one candidate") {
    val path = java.nio.file.Files.createTempDirectory("graft_binpool").toString + "/idx"
    Seq(0, -3).foreach { c =>
      val e = intercept[IllegalArgumentException](
        new GraftVectorStore(spark, path, binaryCandidates = Some(c)))
      assert(e.getMessage.contains(s"binaryCandidates must be at least 1, got $c"))
    }
    new GraftVectorStore(spark, path, binaryCandidates = Some(1))
    new GraftVectorStore(spark, path, binaryCandidates = None)
  }

  test("a negative topN fails the approximate search as it fails the exact one") {
    val path = java.nio.file.Files.createTempDirectory("graft_binneg").toString + "/idx"
    val store = new GraftVectorStore(spark, path, binaryCandidates = Some(4))
    store.addDocuments(Seq(("a.txt", "fast spark table scan query"))
      .toDF("document_path", "text"), "t")
    val exact = intercept[IllegalArgumentException](store.search("spark", "t", topN = -1))
    val approx = intercept[IllegalArgumentException](
      store.search("spark", "t", topN = -1, approximate = true))
    assert(exact.getMessage.contains("k must be non-negative, got -1"))
    assert(approx.getMessage === exact.getMessage)
    store.dropIndex()
  }

  test("multi-tenant isolation via partition pruning + alias encryption") {
    val path = java.nio.file.Files.createTempDirectory("graft_store2").toString + "/idx"
    val store = new GraftVectorStore(spark, path, encryptAlias = true)
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select($"source".as("document_path"), $"text")
    store.addDocuments(docs.limit(10), "tenant_a", pageSize = 32)
    store.addDocuments(docs.limit(20), "tenant_b", pageSize = 32)
    val a = store.search("spark", "tenant_a", topN = 100).count()
    val b = store.search("spark", "tenant_b", topN = 100).count()
    assert(a < b) // tenant scans are isolated slices, not the union
    // delta files are listed from the tenant's own directory, and the
    // serving read of a compacted generation prunes on the partition column
    val enc = graft.operators.IndexTable.encodeAlias("tenant_a")
    val deltaFiles = graft.operators.IndexTable.read(spark, path, enc).inputFiles
    assert(deltaFiles.nonEmpty && deltaFiles.forall(_.contains(s"/index_alias=$enc/")))
    store.compactIndex("tenant_a")
    val plan = graft.operators.IndexTable.readLatest(spark, path, enc)
      .queryExecution.executedPlan.toString
    val pruned = "PartitionFilters: \\[[^\\]]*\\]".r.findAllIn(plan).toSeq
    assert(pruned.nonEmpty && pruned.forall(_.contains(enc)), plan)
    assert(store.search("spark", "tenant_a", topN = 100).count() === a)
  }

  test("deleteDocuments masks a doc from search and survives compaction as a physical forget") {
    val dir = java.nio.file.Files.createTempDirectory("gvs_del").toString
    val store = new GraftVectorStore(spark, s"$dir/idx")
    val docs = Seq(
      ("a.txt", "the fast spark table scan query runs well"),
      ("b.txt", "completely unrelated words about cooking dinner tonight"),
      ("c.txt", "another fast spark scan with table query words")
    ).toDF("document_path", "text")
    store.addDocuments(docs, "t")
    val before = store.search("fast spark table scan query", "t", topN = 5)
      .select($"document_path").as[String].collect().toSet
    assert(before.contains("a.txt"))

    store.deleteDocuments(Seq("a.txt"), "t")
    val after = store.search("fast spark table scan query", "t", topN = 5)
      .select($"document_path").as[String].collect().toSet
    assert(!after.contains("a.txt"), "deleted doc must not be retrievable")
    assert(after.contains("c.txt"))

    store.compactIndex("t", retainMillis = 0L)
    val physical = graft.operators.IndexTable.read(spark, s"$dir/idx", "t")
      .select($"document_path").as[String].collect().toSet
    assert(!physical.contains("a.txt"), "forgotten doc must leave the disk")
    val again = store.search("fast spark table scan query", "t", topN = 5)
      .select($"document_path").as[String].collect().toSet
    assert(!again.contains("a.txt") && again.contains("c.txt"))
  }

  /** deleteDocuments takes its ids from the physical rows: these cases
    * read exactly as a delete of the live rows' ids would. */
  private def deleteCase(dir: String)(body: (GraftVectorStore,
      () => Seq[(String, Int, String)]) => Unit): Unit = {
    val path = java.nio.file.Files.createTempDirectory(dir).toString + "/idx"
    val store = new GraftVectorStore(spark, path)
    store.addDocuments(Seq(
      ("a.txt", "one two three four five six seven eight nine ten"),
      ("b.txt", "eleven twelve thirteen fourteen fifteen"),
      ("c.txt", "sixteen seventeen eighteen nineteen twenty")
    ).toDF("document_path", "text"), "t", pageSize = 4)
    store.compactIndex("t")
    // every read twice: the first resolves the pending deltas, the second
    // reuses that resolution
    def served(): Seq[(String, Int, String)] = {
      def once = graft.operators.IndexTable.readLatest(spark, path, "t")
        .select($"document_path", $"page_number", $"page_content")
        .as[(String, Int, String)].collect().toSeq.sorted
      val first = once
      assert(once === first)
      first
    }
    body(store, () => served())
    store.compactIndex("t")
    store.dropIndex()
  }

  test("deleteDocuments twice: the doc stays deleted and the others are untouched") {
    deleteCase("gvs_del_twice") { (store, served) =>
      val before = served()
      store.deleteDocuments(Seq("a.txt"), "t")
      val once = served()
      assert(once === before.filterNot(_._1 == "a.txt"))
      store.deleteDocuments(Seq("a.txt"), "t")
      assert(served() === once)
      store.compactIndex("t")
      assert(served() === once)
      store.deleteDocuments(Seq("a.txt"), "t")
      assert(served() === once)
    }
  }

  test("deleteDocuments after a delete and a re-ingest masks the doc again") {
    deleteCase("gvs_del_reingest") { (store, served) =>
      val before = served()
      store.deleteDocuments(Seq("b.txt"), "t")
      assert(served() === before.filterNot(_._1 == "b.txt"))
      store.addDocuments(Seq(("b.txt", "eleven twelve thirteen fourteen fifteen"))
        .toDF("document_path", "text"), "t", pageSize = 4)
      assert(served() === before)
      store.deleteDocuments(Seq("b.txt"), "t")
      assert(served() === before.filterNot(_._1 == "b.txt"))
    }
  }

  test("deleteDocuments on an upserted doc masks every page of every version") {
    deleteCase("gvs_del_upsert") { (store, served) =>
      val before = served()
      // the upsert has 2 pages where the original had 3: the old third page
      // stays live, as the reference's per-page HSET keeps it
      store.addDocuments(Seq(("a.txt", "ONE TWO THREE FOUR FIVE"))
        .toDF("document_path", "text"), "t", pageSize = 4)
      val upserted = served()
      assert(upserted.filter(_._1 == "a.txt").map(_._3) ===
        Seq("ONE TWO THREE FOUR", "FIVE", "nine ten"))
      store.deleteDocuments(Seq("a.txt"), "t")
      assert(served() === before.filterNot(_._1 == "a.txt"))
    }
  }
}
