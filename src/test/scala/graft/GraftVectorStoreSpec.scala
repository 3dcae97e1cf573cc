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

  test("graph-ANN store: beam-searched approximate hits line up with exact search") {
    val path = java.nio.file.Files.createTempDirectory("graft_store_g").toString + "/idx"
    val store = new GraftVectorStore(spark, path, graphM = Some(8))
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select($"source".as("document_path"), $"text")
    store.addDocuments(docs, "t", pageSize = 32)
    // first approximate search builds the persisted graph on demand
    val approx = store.search("fast spark table scan query", "t", topN = 5,
      approximate = true, probeDepth = 2)
    assert(approx.columns.toSeq === Seq("id", "index_alias", "document_path",
      "page_number", "page_content", "similarity"))
    val aRows = approx.select($"id", $"similarity").as[(String, Double)].collect()
    assert(aRows.length === 5)
    assert(aRows.map(_._2).toSeq === aRows.map(_._2).sortBy(-(_: Double)).toSeq)
    assert(new java.io.File(s"$path/_graft_knn_graph/t").exists(),
      "the neighbor graph must persist inside the store")
    // quality: the approximate top-5 overlaps the exact top-5
    val exact = store.search("fast spark table scan query", "t", topN = 5)
      .select($"id").as[String].collect().toSet
    assert(aRows.map(_._1).toSet.intersect(exact).size >= 2,
      "beam search must land mostly inside the exact top set")
    // appending a brand-NEW document links into the persisted graph
    // incrementally (HNSW-style insert): the graph files survive, and the
    // very next approximate search must reach the new records through the
    // inserted bidirectional links — no rebuild
    store.addDocuments(
      docs.limit(1).select(lit("brand_new_doc").as("document_path"),
        lit("zyzzyva quokka axolotl wombat").as("text")), "t", pageSize = 32)
    assert(new java.io.File(s"$path/_graft_knn_graph/t").exists(),
      "append of new documents must keep the graph (incremental insert)")
    val fresh = store.search("zyzzyva quokka axolotl wombat", "t", topN = 3,
      approximate = true, probeDepth = 4)
    assert(fresh.where($"document_path" === "brand_new_doc").count() >= 1,
      "incrementally inserted node must be navigable from the old graph")
    // re-ingesting the SAME document is an update: its node already sits in
    // the graph with now-stale edges, so the graph invalidates and the next
    // approximate search rebuilds from the latest view
    store.addDocuments(
      docs.limit(1).select(lit("brand_new_doc").as("document_path"),
        lit("zyzzyva quokka axolotl wombat refreshed").as("text")), "t", pageSize = 32)
    assert(!new java.io.File(s"$path/_graft_knn_graph/t").exists(),
      "re-ingest of an existing document must invalidate the persisted graph")
    // drop removes the graph with the store
    store.dropIndex()
    assert(!new java.io.File(s"$path/_graft_knn_graph").exists())
  }

  test("torn graph build (no readiness marker) reads as absent and is " +
      "rebuilt, never served") {
    val path = java.nio.file.Files.createTempDirectory("graft_store_torn").toString + "/idx"
    val store = new GraftVectorStore(spark, path, graphM = Some(8))
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select($"source".as("document_path"), $"text")
    store.addDocuments(docs, "t", pageSize = 32)
    val before = store.search("fast spark table scan query", "t", topN = 5,
      approximate = true, probeDepth = 2)
      .select($"id", round($"similarity", 4)).as[(String, Double)].collect().toSet
    assert(store.graphIndexExists("t"))
    // simulate a build that died mid-write: the directory stays, the
    // marker and the data files are gone — a bare-exists gate would serve
    // this torn index (and fail) forever
    val gdir = new java.io.File(s"$path/_graft_knn_graph/t")
    assert(gdir.isDirectory)
    gdir.listFiles().foreach { f =>
      if (f.getName == graft.core.PersistedBuild.MarkerName ||
          f.getName.startsWith("part-")) f.delete()
    }
    val store2 = new GraftVectorStore(spark, path, graphM = Some(8))
    assert(!store2.graphIndexExists("t"),
      "an unmarked graph directory must read as ABSENT")
    // the next approximate search rebuilds from the (unchanged) latest
    // view and serves exactly what the healthy index served
    val after = store2.search("fast spark table scan query", "t", topN = 5,
      approximate = true, probeDepth = 2)
      .select($"id", round($"similarity", 4)).as[(String, Double)].collect().toSet
    assert(store2.graphIndexExists("t"), "the rebuild must be marked ready")
    assert(after === before,
      "post-rebuild approximate results must match the healthy index")
    // and a torn graph is unmergeable: tear again, then append through the
    // facade — the append must NOT read the torn files (it would throw),
    // and search still works by rebuilding on demand
    gdir.listFiles().foreach { f =>
      if (f.getName == graft.core.PersistedBuild.MarkerName ||
          f.getName.startsWith("part-")) f.delete()
    }
    store2.addDocuments(
      docs.limit(1).select(lit("post_tear_doc").as("document_path"),
        lit("totally fresh text after the tear").as("text")), "t", pageSize = 32)
    val fresh = store2.search("totally fresh text after the tear", "t",
      topN = 3, approximate = true, probeDepth = 4)
    assert(fresh.where($"document_path" === "post_tear_doc").count() >= 1)
    store2.dropIndex()
  }

  test("HNSW store: layered graph persists, descent search works, inserts stay incremental") {
    val path = java.nio.file.Files.createTempDirectory("graft_store_hnsw").toString + "/idx"
    val store = new GraftVectorStore(spark, path, graphM = Some(8), graphLayers = 2)
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select($"source".as("document_path"), $"text")
    store.addDocuments(docs, "t", pageSize = 32)
    // first approximate search builds the persisted HIERARCHY on demand
    val approx = store.search("fast spark table scan query", "t", topN = 5,
      approximate = true, probeDepth = 2)
    val aRows = approx.select($"id", $"similarity").as[(String, Double)].collect()
    assert(aRows.length === 5)
    assert(aRows.map(_._2).toSeq === aRows.map(_._2).sortBy(-(_: Double)).toSeq)
    // the persisted edge table is layered (layer 0 = flat graph + upper tiers)
    val layers = spark.read.parquet(s"$path/_graft_knn_graph/t")
      .select($"layer").distinct().as[Int].collect().toSet
    assert(layers.contains(0), s"layer 0 must exist, got $layers")
    // quality: descent-seeded walk lands mostly inside the exact top set
    val exact = store.search("fast spark table scan query", "t", topN = 5)
      .select($"id").as[String].collect().toSet
    assert(aRows.map(_._1).toSet.intersect(exact).size >= 2,
      s"hnsw search must overlap the exact top set: got ${aRows.map(_._1).toSet} vs $exact")
    // appending a brand-NEW document links in per layer (hnswInsert): the
    // hierarchy files survive and the new records are navigable
    store.addDocuments(
      docs.limit(1).select(lit("brand_new_doc").as("document_path"),
        lit("zyzzyva quokka axolotl wombat").as("text")), "t", pageSize = 32)
    assert(new java.io.File(s"$path/_graft_knn_graph/t").exists(),
      "append of new documents must keep the hierarchy (incremental insert)")
    val fresh = store.search("zyzzyva quokka axolotl wombat", "t", topN = 3,
      approximate = true, probeDepth = 4)
    assert(fresh.where($"document_path" === "brand_new_doc").count() >= 1,
      "incrementally inserted node must be navigable from the hierarchy")
    // deletes do NOT invalidate the hierarchy (the flat tier's tombstone
    // contract): the walk reads vectors through the latest view, so the
    // tombstoned doc is unscorable at every layer and never surfaces
    store.deleteDocuments(Seq("brand_new_doc"), "t")
    assert(new java.io.File(s"$path/_graft_knn_graph/t").exists(),
      "delete must not invalidate the persisted hierarchy")
    val afterDel = store.search("zyzzyva quokka axolotl wombat", "t", topN = 5,
      approximate = true, probeDepth = 4)
    assert(afterDel.where($"document_path" === "brand_new_doc").count() === 0,
      "tombstoned records must never surface from the surviving hierarchy")
    // an update still invalidates (stale out-edges must not stay navigable)
    store.addDocuments(
      docs.limit(1).select(lit("other_existing").as("document_path"),
        lit("completely different refreshed words").as("text")), "t", pageSize = 32)
    store.addDocuments(
      docs.limit(1).select(lit("other_existing").as("document_path"),
        lit("completely different refreshed words again").as("text")), "t", pageSize = 32)
    assert(!new java.io.File(s"$path/_graft_knn_graph/t").exists(),
      "re-ingest of an existing document must invalidate the hierarchy")
    store.dropIndex()
  }

  test("graph-ANN deletes: tombstones are skipped in the walk, graph survives, compact re-links") {
    val path = java.nio.file.Files.createTempDirectory("graft_gdel").toString + "/idx"
    val store = new GraftVectorStore(spark, path, graphM = Some(8))
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select($"source".as("document_path"), $"text")
    store.addDocuments(docs, "t", pageSize = 32)
    val before = store.search("fast spark table scan query", "t", topN = 5,
      approximate = true, probeDepth = 2)
    val victim = before.select($"document_path").as[String].head()
    store.deleteDocuments(Seq(victim), "t")
    // the graph SURVIVES the delete (HNSW deleted-flag discipline): the
    // tombstoned records lose their vectors in the latest view, so the
    // walk skips them without a rebuild
    assert(new java.io.File(s"$path/_graft_knn_graph/t").exists(),
      "delete must not invalidate the persisted graph")
    val after = store.search("fast spark table scan query", "t", topN = 5,
      approximate = true, probeDepth = 2)
    assert(after.where($"document_path" === victim).count() === 0,
      "tombstoned records must never surface from the surviving graph")
    assert(after.count() >= 1)
    // compaction folds the tombstones out — the lazy re-link point: the
    // graph invalidates and the next approximate search rebuilds live-only
    store.compactIndex("t", retainMillis = 0)
    assert(!new java.io.File(s"$path/_graft_knn_graph/t").exists(),
      "compaction must invalidate the graph for the re-link rebuild")
    val rebuilt = store.search("fast spark table scan query", "t", topN = 5,
      approximate = true, probeDepth = 2)
    assert(rebuilt.where($"document_path" === victim).count() === 0)
    assert(new java.io.File(s"$path/_graft_knn_graph/t").exists(),
      "search after compaction rebuilds the graph over live rows")
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

  test("bucketed store: approximate search prunes at the partition (file) level") {
    val path = java.nio.file.Files.createTempDirectory("graft_store4").toString + "/idx"
    // bits=2: hamming-1 probes cover 3 of 4 buckets — high recall on the
    // near-uniform fixture (RECALL.md: recall tracks probed fraction there)
    // while still exercising real file-level pruning of the 4th bucket.
    val bits = 2
    val store = new GraftVectorStore(spark, path, lshBits = Some(bits))
    // document_path must be unique per doc here: `source` has only 20
    // distinct values, so sha1(path_page) ids collide across docs and the
    // latest-per-id tie-break (equal ingest_seq) is nondeterministic per
    // read — exact and approx would then score different surviving rows.
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select(concat_ws("/", $"source", $"doc_id").as("document_path"), $"text")
    store.addDocuments(docs, "tenant_a", pageSize = 32)

    // layout really is partitioned by bucket under the alias
    val aliasDir = new java.io.File(s"$path/index_alias=tenant_a")
    val bucketDirs = aliasDir.listFiles().filter(f =>
      f.isDirectory && f.getName.startsWith("__lsh_bucket=")).map(_.getName)
    assert(bucketDirs.length > 1, s"expected multiple bucket partitions, got ${bucketDirs.toSeq}")

    val approx = store.search("fast spark table scan query", "tenant_a",
      topN = 10, approximate = true)
    // the probe IN-list lands in the scan's PartitionFilters -> file pruning,
    // not a post-scan row filter
    val plan = approx.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__lsh_bucket"),
      s"expected __lsh_bucket in PartitionFilters:\n$plan")

    val approxIds = approx.select($"id").as[String].collect().toSet
    assert(approxIds.nonEmpty && approxIds.size <= 10)
    // high-recall subset of the exact top-k (3 of 4 buckets probed)
    val exactIds = store.search("fast spark table scan query", "tenant_a", topN = 10)
      .select($"id").as[String].collect().toSet
    assert(approxIds.intersect(exactIds).size >= 4,
      s"approx=$approxIds exact=$exactIds")
    // every approximate hit must also be a real record of the tenant slice
    assert(approx.where($"index_alias" =!= "tenant_a").count() === 0)
  }

  test("ivf store: facade approximate search probes nprobe cells via PartitionFilters") {
    val path = java.nio.file.Files.createTempDirectory("graft_store5").toString + "/idx"
    val store = new GraftVectorStore(spark, path, ivfCells = Some(4))
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select(concat_ws("/", $"source", $"doc_id").as("document_path"), $"text")
    store.addDocuments(docs, "tenant_a", pageSize = 32)

    val aliasDir = new java.io.File(s"$path/index_alias=tenant_a")
    val cellDirs = aliasDir.listFiles().filter(f =>
      f.isDirectory && f.getName.startsWith("__ivf_cell=")).map(_.getName)
    assert(cellDirs.length > 1, s"expected multiple cell partitions, got ${cellDirs.toSeq}")

    // probeDepth doubles as nprobe on the IVF layout: 3 of 4 cells
    val approx = store.search("fast spark table scan query", "tenant_a",
      topN = 10, approximate = true, probeDepth = 3)
    val plan = approx.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__ivf_cell"),
      s"expected __ivf_cell in PartitionFilters:\n$plan")
    val approxIds = approx.select($"id").as[String].collect().toSet
    val exactIds = store.search("fast spark table scan query", "tenant_a", topN = 10)
      .select($"id").as[String].collect().toSet
    assert(approxIds.nonEmpty && approxIds.intersect(exactIds).size >= 4,
      s"approx=$approxIds exact=$exactIds")
  }

  test("graph store: the walk's vector fetch file-prunes on the node bucket " +
      "and the entry point is persisted, not rescanned") {
    val path = java.nio.file.Files.createTempDirectory("graft_store_nb").toString + "/idx"
    // budget 0 forces the pruned point-lookup serving mode regardless of
    // tenant size — this test pins THAT path end to end
    val store = new GraftVectorStore(spark, path, graphM = Some(8),
      graphServingBudgetBytes = 0L)
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select(concat_ws("/", $"source", $"doc_id").as("document_path"), $"text")
    store.addDocuments(docs, "t", pageSize = 32)
    assert(store.servesPruned("t"), "budget 0 must dispatch to the pruned walk")
    // the index is written under the id-hash bucket layout
    val aliasDir = new java.io.File(s"$path/index_alias=t")
    assert(aliasDir.listFiles().exists(f =>
      f.isDirectory && f.getName.startsWith("__node_bucket=")),
      s"expected node-bucket partitions in ${aliasDir.listFiles().map(_.getName).toSeq}")
    // first approximate search builds graph + entry file
    val approx = store.search("fast spark table scan query", "t", topN = 5,
      approximate = true)
    assert(approx.count() === 5)
    assert(new java.io.File(s"$path/_graft_graph_entry/t").exists(),
      "the walk entry point must persist with the graph")
    // the pin: a pruned point lookup (the walk's per-round fetch) carries
    // PartitionFilters on __node_bucket — file pruning, not a full scan
    val someIds = graft.operators.IndexTable.readLatest(spark, path, "t")
      .select(xxhash64($"id")).as[Long].head(3).toSeq
    val fetch = graft.operators.IndexTable
      .readLatestPrunedNodes(spark, path, "t", someIds)
    fetch.collect()
    val plan = fetch.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__node_bucket"),
      s"expected __node_bucket in PartitionFilters:\n$plan")
    // pruned-read correctness: exactly the requested ids' records, latest
    val got = fetch.select(xxhash64($"id")).as[Long].collect().toSet
    assert(someIds.toSet.subsetOf(got))
    // deletes still mask through the pruned view (tombstone routed to the
    // id's own bucket)
    val victim = store.search("fast spark table scan query", "t", topN = 1,
      approximate = true).select($"document_path").as[String].head()
    store.deleteDocuments(Seq(victim), "t")
    val after = store.search("fast spark table scan query", "t", topN = 5,
      approximate = true)
    assert(after.where($"document_path" === victim).count() === 0,
      "tombstoned doc must be unreachable through the pruned walk")
    store.dropIndex()
  }

  test("graph serving dispatches on tenant size: cached slice under budget, " +
      "pruned walk over it, identical hits either way") {
    val path = java.nio.file.Files.createTempDirectory("graft_store_disp").toString + "/idx"
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select(concat_ws("/", $"source", $"doc_id").as("document_path"), $"text")
    // default budget (256 MiB): the toy tenant fits -> cached slice
    val cached = new GraftVectorStore(spark, path, graphM = Some(8))
    cached.addDocuments(docs, "t", pageSize = 32)
    assert(!cached.servesPruned("t"),
      "toy tenant under the default budget must serve the cached slice")
    val s0 = graft.core.TierStats.snapshot()
    val hitsCached = cached.search("fast spark table scan query", "t",
      topN = 5, approximate = true)
      .select($"document_path", $"page_number").collect().toSeq
    assert(graft.core.TierStats.diff(s0, graft.core.TierStats.snapshot())
      .getOrElse("storeGraphServe:driver", 0L) >= 1L,
      "under-budget search must record the cached (driver) tier")
    // forced-tiny budget over the SAME persisted store -> pruned walk,
    // and the walk's decisions (entries, scores, ties) are identical
    val pruned = new GraftVectorStore(spark, path, graphM = Some(8),
      graphServingBudgetBytes = 1L)
    assert(pruned.servesPruned("t"))
    val s1 = graft.core.TierStats.snapshot()
    val hitsPruned = pruned.search("fast spark table scan query", "t",
      topN = 5, approximate = true)
      .select($"document_path", $"page_number").collect().toSeq
    assert(graft.core.TierStats.diff(s1, graft.core.TierStats.snapshot())
      .getOrElse("storeGraphServe:distributed", 0L) >= 1L,
      "over-budget search must record the pruned (distributed) tier")
    assert(hitsCached === hitsPruned,
      "dispatch must change the access path, never the result")
    cached.dropIndex()
  }

  test("graph serving footprint counts the compacted generation: a " +
      "compacted tenant over budget takes the pruned walk") {
    val path = java.nio.file.Files.createTempDirectory("graft_store_fp").toString + "/idx"
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select(concat_ws("/", $"source", $"doc_id").as("document_path"), $"text")
    val store = new GraftVectorStore(spark, path, graphM = Some(8),
      graphServingBudgetBytes = 1L)
    store.addDocuments(docs, "t", pageSize = 32)
    store.compactIndex("t", retainMillis = 0L)
    // vacuum retired the delta zone: every row lives in the generation
    assert(!new java.io.File(s"$path/index_alias=t").exists())
    assert(store.servesPruned("t"), "the generation's bytes must count")
    val s0 = graft.core.TierStats.snapshot()
    assert(store.search("fast spark table scan query", "t", topN = 5,
      approximate = true).count() === 5)
    val tiers = graft.core.TierStats.diff(s0, graft.core.TierStats.snapshot())
    assert(tiers.getOrElse("storeGraphServe:distributed", 0L) >= 1L &&
      tiers.getOrElse("storeGraphServe:driver", 0L) === 0L, s"tiers: $tiers")
    store.dropIndex()
  }

  test("concurrent graph searches on one store instance share one serving " +
      "state and return identical hits") {
    val path = java.nio.file.Files.createTempDirectory("graft_store_cc").toString + "/idx"
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select(concat_ws("/", $"source", $"doc_id").as("document_path"), $"text")
    val store = new GraftVectorStore(spark, path, graphM = Some(8))
    store.addDocuments(docs, "t", pageSize = 32)
    store.buildGraphIndex("t")
    assert(!store.servesPruned("t"))
    def hits(): Seq[(String, Int, Double)] =
      store.search("fast spark table scan query", "t", topN = 5, approximate = true)
        .select($"document_path", $"page_number", $"similarity")
        .as[(String, Int, Double)].collect().toSeq
    // no warm-up: the threads race to build the tenant's serving state
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).map(_ => pool.submit(() => hits()))
      val results = futures.map(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
      assert(results.head.size === 5)
      assert(results.forall(_ === results.head), s"divergent hits: $results")
      assert(hits() === results.head)
    } finally pool.shutdown()
    store.dropIndex()
  }

  test("persisted graph layout is validated against graphLayers: a store " +
      "opened under the OTHER layout rebuilds instead of misreading") {
    val path = java.nio.file.Files.createTempDirectory("graft_store_lay").toString + "/idx"
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select($"source".as("document_path"), $"text").limit(40)
    // build FLAT, then reopen LAYERED over the same files: without the
    // layout check the layered walk fails on the missing `layer` column
    val flat = new GraftVectorStore(spark, path, graphM = Some(8))
    flat.addDocuments(docs, "t", pageSize = 32)
    assert(flat.search("spark table scan", "t", topN = 3,
      approximate = true).count() === 3)
    val layered = new GraftVectorStore(spark, path, graphM = Some(8), graphLayers = 2)
    val viaLayered = layered.search("spark table scan", "t", topN = 3,
      approximate = true)
    assert(viaLayered.count() === 3)
    // the rebuild persisted the LAYERED schema
    assert(spark.read.parquet(s"$path/_graft_knn_graph/t")
      .columns.contains("layer"))
    // and back: reopening FLAT over the layered index must not leak
    // upper-layer edges into a flat walk — it rebuilds flat
    val flat2 = new GraftVectorStore(spark, path, graphM = Some(8))
    assert(flat2.search("spark table scan", "t", topN = 3,
      approximate = true).count() === 3)
    assert(!spark.read.parquet(s"$path/_graft_knn_graph/t")
      .columns.contains("layer"))
    // append-path validation: a mismatched persisted layout invalidates on
    // append (like an update) rather than linking into the wrong schema
    val layered2 = new GraftVectorStore(spark, path, graphM = Some(8), graphLayers = 2)
    layered2.addDocuments(
      docs.limit(1).select(lit("new_doc_x").as("document_path"),
        lit("zyzzyva quokka").as("text")), "t", pageSize = 32)
    assert(!new java.io.File(s"$path/_graft_knn_graph/t").exists(),
      "append under a mismatched layout must invalidate the persisted graph")
    flat2.dropIndex()
  }

  test("one approximate layout at a time") {
    intercept[IllegalArgumentException] {
      new GraftVectorStore(spark, "/tmp/nope", lshBits = Some(4), ivfCells = Some(8))
    }
    intercept[IllegalArgumentException] {
      new GraftVectorStore(spark, "/tmp/nope", graphM = Some(8),
        binaryCandidates = Some(64))
    }
    intercept[IllegalArgumentException] { // the hierarchy needs a graph
      new GraftVectorStore(spark, "/tmp/nope", graphLayers = 2)
    }
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
    // the physical plan prunes on the partition column
    val plan = store.search("spark", "tenant_a", topN = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("index_alias"))
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
}
