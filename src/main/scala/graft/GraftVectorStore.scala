package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.ModelRegistry
import graft.functions.Embedder
import graft.operators.{GraphAnn, IndexTable, KnnSearch, Rerank}

/** User-facing facade — the one-object surface a user of the reference
  * application needs to switch: every operation the reference exposes
  * (index lifecycle, document ingestion, vector search, reranked answers,
  * session history) as one call each, over a parquet-backed store.
  *
  * Reference surface mapping:
  *  - createIndex / indexExists / dropIndex  <-> `createRedisIndex` /
  *    `checkRedisIndexExists` / `dropRedisIndex` (modules/utilities.py:232-295)
  *  - addDocument                            <-> upload flow `getEmbeddingEntireDoc`
  *    + `addDocumentToRedis` (app/app.py:130-190)
  *  - search                                 <-> `queryRedis` (modules/utilities.py:368-401)
  *  - answers                                <-> `getResult` incl. map_rerank +
  *    threshold + top-n (app/app.py:64-113)
  *  - history                                <-> session query log (app/app.py:291-334)
  */
final class GraftVectorStore(
    spark: SparkSession,
    indexPath: String,
    model: String = ModelRegistry.default,
    seed: Int = Embedder.DefaultSeed,
    encryptAlias: Boolean = false,
    // Some(bits): store the index partitioned by (index_alias, __lsh_bucket)
    // and enable the approximate search path — the scale analogue of the
    // reference's HNSW index (reference modules/utilities.py:272-278).
    lshBits: Option[Int] = None,
    lshSeed: Long = IndexTable.DefaultLshSeed,
    // Some(cells): IVF layout instead — partitioned by (index_alias,
    // __ivf_cell), Lloyd codebook persisted with the store. Mutually
    // exclusive with lshBits; `approximate = true` then probes the
    // probeDepth (= nprobe) nearest cells.
    ivfCells: Option[Int] = None,
    // Some(m): graph-ANN layout — rows stored plain, plus a persisted k-NN
    // neighbor graph (m best neighbors per record) under the store path;
    // `approximate = true` then beam-searches the graph (operators/GraphAnn,
    // the HNSW structural analogue; probeDepth scales the beam width).
    // Appends of NEW documents link into the existing graph incrementally
    // (HNSW-style insert, [[operators.GraphAnn.insertNodes]]: each new
    // record beam-searches the graph for its m neighbors, bidirectional
    // edges added, touched lists re-capped at 2m) — the daily-append shape,
    // O(batch) instead of an O(corpus) rebuild. Re-ingesting an EXISTING
    // document (an update: same record ids, possibly new vectors) instead
    // invalidates the graph so the next approximate search rebuilds —
    // stale out-edges of an updated node must not stay navigable. Deletes
    // do NOT invalidate (round 7): tombstoned nodes lose their vector in
    // the latest view, so the walk skips them (HNSW's deleted flag);
    // compactIndex is the lazy re-link point (see deleteDocuments).
    graphM: Option[Int] = None,
    // With graphM set, graphLayers > 0 upgrades the persisted graph to the
    // HNSW hierarchy ([[operators.GraphAnn.hnswGraph]], graphLayers = max
    // layer): layer 0 is the flat k-NN graph, each upper layer the same
    // build over a 16x-smaller nested subset ([[operators.GraphAnn.layerOf]]
    // — the node's level is a pure function of its id, so membership needs
    // no bookkeeping). Search descends the hierarchy from a single deepest
    // entry instead of sampling nEntry random entries; appends run the
    // per-layer incremental insert ([[operators.GraphAnn.hnswInsert]]).
    // 0 (default) keeps the flat single-layer graph.
    graphLayers: Int = 0,
    // Some(candidates): binary-sketch layout — rows stored plain;
    // `approximate = true` runs the two-stage Hamming search
    // (operators/BinaryQuant.hammingSearch): the sweep packs the sign bits
    // of each row's leading 64 dims from its float vector at query time
    // (so it reads every row's vector) and keeps the Hamming-nearest ids;
    // exact cosine is computed only for that candidate sliver. probeDepth
    // scales the candidate pool. No persisted structure, so appends never
    // invalidate anything — the zero-maintenance approximate tier.
    binaryCandidates: Option[Int] = None,
    // Graph-serving dispatch budget: when the tenant's on-disk footprint
    // (FS metadata reads, no Spark job) fits, the driver-paced walk
    // materializes the tenant's latest slice once and serves every
    // per-round vector fetch from memory — measured ~2.5x faster at toy
    // scale (RECALL.md round-8 table). Past the budget it point-reads node
    // buckets per round (PartitionFilters on __node_bucket) — the only
    // shape that exists at 100 TB, where no tenant slice fits anywhere.
    // The footprint is the newest committed generation plus the active
    // deltas (IndexTable.footprintBytes) — an overestimate of the latest
    // slice (deltas carry superseded versions and tombstones), so the
    // dispatch can only err toward the scale-safe pruned walk.
    graphServingBudgetBytes: Long = 256L << 20,
    // Pluggable embedding model (None = the murmur hashing-trick default):
    // `docCol` embeds the cleansed page column at ingest, `query` embeds a
    // prompt driver-side at search — the model-registry swap a deployment
    // makes when it changes embedding models. The hash-gated facade
    // queries pass the portable md5 dense twin
    // ([[Embedder.embedPortableCol]]/[[Embedder.embedPortable]]) so the
    // composed store path is ANSI-replayable end to end; the murmur
    // embedder stays the production fast path (the embed_documents /
    // embed_hashed_sparse twin discipline).
    embedder: Option[GraftVectorStore.Embedding] = None) {

  require(Seq(lshBits, ivfCells, graphM, binaryCandidates).count(_.nonEmpty) <= 1,
    "choose ONE approximate layout: lshBits (sign-LSH buckets), ivfCells (IVF cells), graphM (k-NN graph), or binaryCandidates (Hamming sketch)")
  require(graphLayers == 0 || graphM.nonEmpty,
    "graphLayers (the HNSW hierarchy) requires graphM")

  private def resolveAlias(alias: String): String =
    if (encryptAlias) IndexTable.encodeAlias(alias) else alias

  /** Prompt -> query vector under this store's embedding model (the
    * pluggable `embedder`, or the default murmur embedder). */
  private def queryVec(prompt: String): Array[Float] =
    embedder.map(_.query(prompt))
      .getOrElse(Embedder.embedQuery(prompt, model, seed))

  private def dim: Int = ModelRegistry.dim(model)

  /** Idempotent index creation (D1). */
  def createIndex(): Unit = IndexTable.create(spark, indexPath)

  /** D2. */
  def indexExists(): Boolean = IndexTable.exists(spark, indexPath)

  /** D3. */
  def dropIndex(): Unit = {
    servingState.clear()
    IndexTable.drop(spark, indexPath)
  }

  /** E1: ingest a document table (document_path, text) into a namespace. */
  def addDocuments(docs: DataFrame, alias: String,
                   pageSize: Int = operators.Chunker.DefaultPageSize): Unit = {
    createIndex()
    invalidateServing(alias)
    val records = IndexTable.ingestRecords(docs, resolveAlias(alias), model,
      seed, pageSize, embed = embedder.map(_.docCol))
    (lshBits, ivfCells) match {
      case (Some(bits), _) => IndexTable.appendBucketed(records, indexPath, bits, dim, lshSeed)
      case (_, Some(cells)) => IndexTable.appendIvf(records, indexPath, cells)
      // graph stores write the id-hash-bucketed layout: the walk's
      // per-round vector fetches file-prune on the node bucket
      // ([[IndexTable.readLatestPrunedNodes]]) instead of scanning a
      // cached full slice
      case _ if graphM.nonEmpty => IndexTable.appendNodeBucketed(records, indexPath)
      case _ => IndexTable.append(records, indexPath)
    }
    // keep a persisted graph index live across appends: brand-new records
    // link in incrementally (HNSW-style insert — O(batch), the same walk a
    // query runs); an UPDATE (any incoming id already a graph node) means
    // stale out-edges would stay navigable, so invalidate and let the next
    // approximate search rebuild from the latest view
    if (graphM.nonEmpty) {
      // readiness marker, not bare existence: a torn build must not be
      // merged into — it reads as absent and the next search rebuilds
      if (graphReady(alias)) {
        val edges = spark.read.parquet(graphPath(alias))
        if (!graphLayoutMatches(edges)) {
          // the persisted index was built under a DIFFERENT graphLayers
          // setting: a layered table read as flat leaks upper-layer edges
          // into the walk; a flat table read as layered fails on the
          // missing column. Layout mismatch invalidates like an update —
          // the next approximate search rebuilds under this store's layout.
          invalidateGraph(alias)
        } else {
        val incoming = records.withColumn("__nid", xxhash64(col("id")))
          .select(col("__nid"), col("page_content_vector")).distinct()
        val graphIds = edges.select(col("src").as("__nid"))
          .union(edges.select(col("dst").as("__nid"))).distinct()
        // An incoming id that is already a graph node is an update; so is
        // the same NEW id appearing twice in one batch with different
        // vectors (distinct keeps both — linking two conflicting variants
        // under one node id would diverge from the index's latest-wins
        // read). Both cases invalidate; the next approximate search
        // rebuilds from the latest view.
        val isUpdate = incoming.join(graphIds, Seq("__nid"), "left_semi")
          .limit(1).count() > 0 ||
          incoming.groupBy("__nid").count().filter(col("count") > 1)
            .limit(1).count() > 0
        if (isUpdate) invalidateGraph(alias)
        else {
          val merged = (if (graphLayers > 0)
              GraphAnn.hnswInsert(
                graphNodes(alias), edges, incoming, m = graphM.get, dim = dim,
                maxLayer = graphLayers,
                vecCol = "page_content_vector", idCol = "__nid")
            else
              GraphAnn.insertNodes(
                graphNodes(alias), edges, incoming, m = graphM.get, dim = dim,
                vecCol = "page_content_vector", idCol = "__nid"))
            // materialize BEFORE overwriting the files the plan reads from
            .localCheckpoint()
          merged.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(graphPath(alias))
          // the merged graph changes the live node set — refresh the
          // persisted entry file with it (a new deeper-layer node should
          // become the HNSW entry; the flat md5 sample must track the
          // node set), or serving walks start from stale entries
          writeGraphEntries(alias)
          markGraphReady(alias)
        }
        }
      }
    }
  }

  /** True iff a persisted edge table's layout (presence of the `layer`
    * column) matches this store's `graphLayers` declaration. */
  private def graphLayoutMatches(edges: org.apache.spark.sql.DataFrame): Boolean =
    edges.columns.contains("layer") == (graphLayers > 0)

  /** Tombstone-delete documents by path: every record (page) of each given
    * `document_path` is masked immediately and physically removed by the
    * next [[compactIndex]] + [[vacuumIndex]] (see
    * [[operators.IndexTable.deleteRecords]]).
    *
    * A persisted graph index SURVIVES deletes (round 7; it used to be
    * invalidated): the walk reads node vectors through the latest view, so
    * a tombstoned id simply has no vector — it can never be scored, never
    * enters a frontier, and never appears in results. Edges pointing at it
    * are dead ends until the next [[compactIndex]], which invalidates the
    * graph so the rebuild re-links the deleted nodes' in-neighbors — the
    * HNSW deleted-flag + lazy-repair discipline. The trade is bounded
    * recall decay while tombstones accumulate (a deleted hub strands its
    * neighborhood's through-paths), which is why compaction is the
    * scheduled maintenance step. Updates still invalidate immediately:
    * a STALE vector (unlike a missing one) would keep steering the walk. */
  def deleteDocuments(paths: Seq[String], alias: String): Unit = {
    import org.apache.spark.sql.functions.col
    invalidateServing(alias)
    val ids = IndexTable.readLatest(spark, indexPath, resolveAlias(alias))
      .where(col("document_path").isin(paths: _*))
      .select(col("id"))
    IndexTable.deleteRecords(ids, indexPath, resolveAlias(alias))
  }

  /** E2 retrieval: exact cosine top-k scored chunks for a prompt.
    * Reads with HSET-upsert semantics — a re-ingested document's newest
    * record wins, duplicates never reach the top-k.
    *
    * `approximate = true` (requires `lshBits`): probe only the query's LSH
    * bucket plus its hamming<=probeDepth neighbors — at depth 1 that is
    * (1 + bits)/2^bits of the tenant's FILES, pruned at the partition level
    * before any row is read; depth is the recall/cost dial, the same dial
    * the reference's HNSW turns with efSearch. Shardable over any number of
    * executors. */
  def search(prompt: String, alias: String, topN: Int = 10,
             approximate: Boolean = false, probeDepth: Int = 1): DataFrame = {
    val qvec = queryVec(prompt)
    if (approximate && graphM.nonEmpty)
      return graphSearch(qvec, alias, topN, probeDepth)
    if (approximate && binaryCandidates.nonEmpty)
      return binarySearch(qvec, alias, topN, probeDepth)
    val slice =
      if (!approximate) IndexTable.readLatest(spark, indexPath, resolveAlias(alias))
      else (lshBits, ivfCells) match {
        case (Some(bits), _) =>
          val probes = graft.plans.LshTopKPruneRule
            .probeBuckets(qvec, bits, dim, lshSeed, probeDepth)
          IndexTable.readLatestPruned(spark, indexPath, resolveAlias(alias), probes.toSeq)
        case (_, Some(_)) =>
          IndexTable.readLatestPrunedIvf(spark, indexPath, resolveAlias(alias),
            qvec, nprobe = probeDepth)
        case _ => throw new IllegalArgumentException(
          "approximate search requires the store to be built with lshBits, ivfCells, graphM, or binaryCandidates")
      }
    KnnSearch.hitProjection(KnnSearch.topK(slice, qvec, topN))
  }

  /** Binary-sketch approximate path: Hamming sweep + exact re-rank of
    * the `binaryCandidates * probeDepth` nearest ids over the serving
    * slice, as two shuffle-free scans
    * ([[graft.operators.BinaryQuant.hammingSearch]]: the sweep runs in
    * this call, the re-rank when the result is read). Ids are xxhash64 of
    * the record id, as in [[graft.operators.BinaryQuant.hammingTopK]]'s
    * batch form. */
  private def binarySearch(qvec: Array[Float], alias: String, topN: Int,
                           probeDepth: Int): DataFrame = {
    val cand = binaryCandidates.get * math.max(1, probeDepth)
    val nodes = IndexTable.readLatest(spark, indexPath, resolveAlias(alias))
      .withColumn("__nid", xxhash64(col("id")))
    KnnSearch.hitProjection(graft.operators.BinaryQuant.hammingSearch(
      nodes, qvec, k = topN, candidates = math.max(cand, topN),
      corpusVec = "page_content_vector", corpusId = "__nid"))
  }

  /** The persisted neighbor-graph dir for a tenant: underscore-prefixed
    * INSIDE the store (parquet scans ignore it, drop removes it) — the same
    * residency contract as the IVF codebook's `_graft_centroids`. */
  private def graphPath(alias: String): String =
    s"$indexPath/_graft_knn_graph/${resolveAlias(alias)}"

  /** Persisted walk entry points (one deepest node for the hierarchy, the
    * nEntry md5-ordered sample for the flat graph) — written with the
    * graph so a serving walk never runs the corpus-wide entry scan. */
  private def graphEntriesPath(alias: String): String =
    s"$indexPath/_graft_graph_entry/${resolveAlias(alias)}"

  /** Drop the persisted graph AND its entry file together (an entry
    * without its graph, or vice versa, is a stale pair). */
  private def invalidateGraph(alias: String): Unit = {
    invalidateServing(alias)
    for (d <- Seq(graphPath(alias), graphEntriesPath(alias))) {
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) { fs.delete(p, true); () }
    }
  }

  /** Memory-resident serving state for under-budget tenants, built ONCE
    * per (store instance, alias) and reused across search calls:
    *  - `slice`: the tenant's latest record rows (checkpointed DataFrame,
    *    used only for the final k-row hit projection),
    *  - `vecs` / `flatAdj` / `layerAdj`: driver-resident hash maps of node
    *    vectors and adjacency — the walk runs as pure lookups through
    *    [[operators.GraphAnn.beamWalkLocal]]/[[operators.GraphAnn.hnswWalkLocal]]
    *    (the same selection core the Spark-backed walks delegate to), so a
    *    prompt pays ZERO Spark jobs until the final hit projection,
    *  - `entries`: the persisted walk entry ids.
    * Driver memory is bounded by `graphServingBudgetBytes` BY CONSTRUCTION
    * (the dispatch sends bigger tenants to the pruned walk). Concurrent
    * searches share one state per tenant: the first builds it, the others
    * wait for it. Every mutation through this facade invalidates the
    * state; a mutation
    * through a DIFFERENT store instance over the same path is not seen
    * until this instance's next invalidation — the ordinary read-replica
    * contract of a serving cache (the pruned mode has no such window: it
    * reads the store per round). */
  private val servingState =
    new java.util.concurrent.ConcurrentHashMap[String, GraftVectorStore.GraphServing]()

  private def invalidateServing(alias: String): Unit = {
    servingState.remove(resolveAlias(alias)); ()
  }

  /** JVM md5 hex of the node id's decimal string — bit-identical to
    * Spark's `md5(cast(id as string))`, so the local entry fallbacks rank
    * nodes exactly as the distributed walks' TakeOrdered does. */
  private def md5hex(id: Long): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  /** Local twin of [[operators.GraphAnn.layerOf]]: leading '0' run. */
  private def layerOfLocal(id: Long): Int =
    md5hex(id).takeWhile(_ == '0').length

  /** Graph-serving dispatch (see `graphServingBudgetBytes`): true when the
    * tenant's on-disk footprint exceeds the serving budget, i.e. the walk
    * must point-read node buckets instead of materializing the latest
    * slice. The footprint counts the tenant's newest committed generation
    * and its active deltas ([[IndexTable.footprintBytes]], FS metadata
    * only — no Spark job), so a compacted tenant whose delta directory is
    * gone is still measured whole; a tenant with nothing ingested trivially
    * fits. */
  private[graft] def servesPruned(alias: String): Boolean =
    IndexTable.footprintBytes(spark, indexPath, resolveAlias(alias)) > graphServingBudgetBytes

  /** Record ids are sha1 hex strings; the graph walks 8-byte node ids, so
    * nodes are keyed by xxhash64(id) (collision over a tenant is ~n^2/2^64 —
    * vanishing, and an approximate tier by definition tolerates it). */
  private def graphNodes(alias: String): DataFrame =
    IndexTable.readLatest(spark, indexPath, resolveAlias(alias))
      .withColumn("__nid", xxhash64(col("id")))

  /** True iff the tenant's persisted neighbor graph is COMPLETE — the gate
    * a continuous-ingest loop uses to decide build-vs-incremental-link
    * (see [[streaming.StreamingIngest.ingestOnceGraph]]). Keyed on the
    * readiness marker, not the bare path (the [[graft.core.PersistedBuild]]
    * contract): a build that died mid-write leaves a directory but no
    * marker, and must read as absent so the next consumer rebuilds instead
    * of serving a torn index forever. */
  def graphIndexExists(alias: String): Boolean = graphReady(alias)

  private def graphMarkerPath(alias: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(graphPath(alias),
      graft.core.PersistedBuild.MarkerName)

  private def graphReady(alias: String): Boolean = {
    val p = graphMarkerPath(alias)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Stamp the readiness marker; called after EVERY complete graph+entries
    * write (full build and incremental merge — SaveMode.Overwrite removes
    * the previous marker together with the old files). */
  private def markGraphReady(alias: String): Unit =
    graft.core.PersistedBuild.markReady(spark, graphPath(alias))

  /** (Re)build the tenant's persisted k-NN neighbor graph from the CURRENT
    * latest-per-id records — run after bulk ingest or [[compactIndex]], the
    * index-maintenance step every graph-ANN deployment schedules. */
  def buildGraphIndex(alias: String): Unit = {
    val m = graphM.getOrElse(throw new IllegalArgumentException(
      "buildGraphIndex requires the store to be constructed with graphM"))
    invalidateServing(alias)
    val g = if (graphLayers > 0)
        GraphAnn.hnswGraph(graphNodes(alias), m = m, dim = dim,
          maxLayer = graphLayers, vecCol = "page_content_vector", idCol = "__nid")
      else
        GraphAnn.knnGraph(graphNodes(alias), m = m, dim = dim,
          vecCol = "page_content_vector", idCol = "__nid")
    // src-clustered files: the walk's per-round `src IN (frontier)` fetch
    // pushes to parquet, and row-group min/max stats skip everything off
    // the frontier when edges are sorted by src
    g.repartition(col("src")).sortWithinPartitions("src")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(graphPath(alias))
    // persist the walk's entry point(s) — the exact convention each walk
    // uses, so serving skips the corpus-wide entry scan
    writeGraphEntries(alias)
    markGraphReady(alias)
  }

  /** (Re)compute and persist the serving entry point(s) from the CURRENT
    * latest nodes — a tiny TakeOrdered. Called by [[buildGraphIndex]] AND
    * by the append path's incremental merge: a newly inserted node can be
    * the hierarchy's new deepest (HNSW entry convention) and the flat
    * graph's md5 sample must track the live node set, so an entry file
    * that outlives the graph write serves stale walks. */
  private def writeGraphEntries(alias: String): Unit = {
    val nids = graphNodes(alias).select(col("__nid"))
    val entries = if (graphLayers > 0)
        nids.withColumn("__lv",
            least(GraphAnn.layerOf(col("__nid")), lit(graphLayers)))
          .orderBy(col("__lv").desc, md5(col("__nid").cast("string")), col("__nid"))
          .limit(1).select(col("__nid"))
      else
        nids.orderBy(md5(col("__nid").cast("string")), col("__nid"))
          .limit(8).select(col("__nid"))
    entries.coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(graphEntriesPath(alias))
  }

  private def graphSearch(qvec: Array[Float], alias: String, topN: Int,
                          probeDepth: Int): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(graphPath(alias))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!graphReady(alias)) buildGraphIndex(alias)
    val nodes = graphNodes(alias)
    val edges = {
      val persisted = spark.read.parquet(graphPath(alias))
      if (graphLayoutMatches(persisted)) persisted
      else {
        // persisted under a different graphLayers setting (see the append
        // path): rebuild under THIS store's declared layout
        buildGraphIndex(alias)
        spark.read.parquet(graphPath(alias))
      }
    }
    // round-7 serving path: the one-prompt walk is driver-paced
    // ([[GraphAnn.beamSearchSingle]] — two keyed lookups per round instead
    // of ~5 distributed stages), the HNSW serving access pattern. With
    // graphLayers > 0 the walk descends the persisted hierarchy from its
    // single deepest entry instead of sampling nEntry random entries
    // ([[GraphAnn.hnswSearchSingle]]). The distributed batch walks stay
    // behind [[GraphAnn.beamSearch]]/[[GraphAnn.hnswSearch]] for
    // query-batch workloads and the oracle-gated twins.
    //
    // Round 8: each round's vector fetch rides the NODE-BUCKETED index
    // layout (PartitionFilters on __node_bucket — file-pruned point
    // lookups), and the entry comes from the file persisted at build time,
    // so the walk materializes NO corpus-sized slice. Tombstoned ids have
    // no row in the pruned latest view → unscorable → unreachable (the
    // delete contract, unchanged).
    // Round 9: the fetch mode is DISPATCHED on tenant size (see the
    // graphServingBudgetBytes scaladoc). Under budget, the tenant's latest
    // slice, edge table, and entry points become MEMORY-RESIDENT serving
    // state on this store instance — materialized once, reused across
    // search calls, invalidated by every mutation through this facade
    // (add/delete/compact/rebuild/drop) — so a prompt pays only the walk's
    // in-memory keyed filters. Over budget, every per-round fetch is a
    // node-bucket-pruned point read and nothing tenant-sized materializes.
    def readEntryNids(): Seq[Long] = {
      val ep = new org.apache.hadoop.fs.Path(graphEntriesPath(alias))
      if (fs.exists(ep))
        spark.read.parquet(graphEntriesPath(alias)).as[Long].collect().toSeq
      else Seq.empty
    }
    val beamW = 8 * math.max(1, probeDepth)
    val (hitSeq: Seq[(Long, Double, Int)], hitFetch: (Seq[Long] => DataFrame)) =
      if (servesPruned(alias)) {
        graft.core.TierStats.record("storeGraphServe", "distributed")
        val pointFetch = IndexTable.nodePointFetcher(spark, indexPath, resolveAlias(alias))
        val prunedFetch: Seq[Long] => DataFrame = ids =>
          pointFetch(ids)
            .withColumn("__nid", xxhash64(col("id")))
            .where(col("__nid").isin(ids: _*))
        val entryNids = readEntryNids()
        val s = (if (graphLayers > 0)
            GraphAnn.hnswSearchSingle(nodes, edges, qvec,
              k = topN, beam = beamW, rounds = 3,
              maxLayer = graphLayers,
              corpusVec = "page_content_vector", corpusId = "__nid",
              fetchVectors = Some(prunedFetch),
              entryId = entryNids.headOption)
          else
            GraphAnn.beamSearchSingle(nodes, edges, qvec,
              k = topN, beam = beamW, rounds = 3, nEntry = 8,
              corpusVec = "page_content_vector", corpusId = "__nid",
              fetchVectors = Some(prunedFetch),
              entryIds = if (entryNids.nonEmpty) Some(entryNids) else None))
        (s, prunedFetch)
      } else {
        graft.core.TierStats.record("storeGraphServe", "driver")
        val st = servingState.computeIfAbsent(resolveAlias(alias), _ => {
          val slice = graphNodes(alias).localCheckpoint()
          val vecs = slice
            .select($"__nid", $"page_content_vector".cast("array<float>"))
            .as[(Long, Array[Float])].collect().toMap
          val (flatAdj, layerAdj) =
            if (graphLayers > 0)
              (Map.empty[Long, Seq[Long]],
               edges.select($"layer".cast("int"), $"src".cast("long"),
                   $"dst".cast("long"))
                 .as[(Int, Long, Long)].collect().toSeq
                 .groupBy(_._1).map { case (l, rows) =>
                   l -> rows.groupBy(_._2).map { case (s, r) =>
                     s -> r.map(_._3).toSeq }
                 })
            else
              (edges.select($"src".cast("long"), $"dst".cast("long"))
                 .as[(Long, Long)].collect().toSeq
                 .groupBy(_._1).map { case (s, r) => s -> r.map(_._2).toSeq },
               Map.empty[Int, Map[Long, Seq[Long]]])
          GraftVectorStore.GraphServing(slice, vecs, flatAdj, layerAdj,
            readEntryNids())
        })
        def localVecRows(ids: Seq[Long]): Seq[(Long, Seq[Float])] =
          ids.flatMap(id => st.vecs.get(id).map(v => (id, v.toSeq)))
        val s = if (graphLayers > 0)
            GraphAnn.hnswWalkLocal(qvec, k = topN, beam = beamW, rounds = 3,
              descentRounds = 2, maxLayer = graphLayers,
              vecRows = localVecRows,
              neighborIds = (l, srcs) => srcs.flatMap(src =>
                st.layerAdj.getOrElse(l, Map.empty)
                  .getOrElse(src, Seq.empty)),
              // entry fallback: deepest live node, (md5, id) ties — the
              // identical convention, ranked over the resident node set
              entryScan = () => st.vecs.keys.toSeq
                .sortBy(id => (-math.min(layerOfLocal(id), graphLayers),
                  md5hex(id), id)).take(1),
              entryId = st.entries.headOption)
          else
            GraphAnn.beamWalkLocal(qvec, k = topN, beam = beamW, rounds = 3,
              vecRows = localVecRows,
              neighborIds = srcs => srcs.flatMap(src =>
                st.flatAdj.getOrElse(src, Seq.empty)),
              entryRows = () => localVecRows(st.vecs.keys.toSeq
                .sortBy(id => (md5hex(id), id)).take(8)),
              entryIds = if (st.entries.nonEmpty) Some(st.entries) else None)
        (s, (ids: Seq[Long]) => st.slice.where(col("__nid").isin(ids: _*)))
      }
    val hits = hitSeq.toDF("__nid", "similarity", "rank")
    // final projection: fetch the k hit records through the tier's keyed
    // fetch instead of re-scanning the tenant's latest view
    val hitRows = hitFetch(hitSeq.map(_._1))
    KnnSearch.hitProjection(
      hitRows.join(broadcast(hits), Seq("__nid")).orderBy(col("rank")))
  }

  /** Time-travel search: exact KNN over the index exactly as it stood at a
    * committed generation (see [[IndexTable.readGeneration]]) — "what would
    * this query have answered last week". Snapshots are already
    * latest-per-id resolved at fold time, so no upsert window is applied. */
  /** Hybrid search: BM25 over the stored page content + vector cosine,
    * fused by reciprocal-rank fusion — the lexical+semantic combination the
    * pure-vector reference cannot express (its Redis backend exposes it as
    * "hybrid queries"; here it is one plan over the same serving slice).
    *
    * Both branches read ONE cached serving slice; each produces a
    * `kEach`-bounded ranked list (vector = TakeOrdered, lexical = the
    * bounded threshold cut of [[graft.operators.Bm25.topKPathPage]]), so
    * the fusion join, the rank windows, and the hit-projection join-back
    * all run on k-bounded frames — the MMR cadence, never a corpus
    * operation.
    *
    * Every ordering in the chain — both cuts, both rank windows, the
    * fused rank — ties on (document_path, page_number), the natural
    * unique business key (1:1 with the sha1 `id`). Round-12: the previous
    * tie keys (sha1 `id` on the vector/fusion side, a xxhash64 surrogate
    * inside the lexical cut) were engine-private, which kept the composed
    * path out of the oracle gate; (path, page) is just as deterministic
    * and ANSI-replayable, so store_hybrid_e2e can hash-check this method
    * end to end. */
  def searchHybrid(prompt: String, alias: String, topN: Int = 10,
                   kEach: Int = 50, rrfC: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qvec = queryVec(prompt)
    val slice = IndexTable.readLatest(spark, indexPath, resolveAlias(alias)).cache()
    try {
      val vec = slice
        .withColumn("similarity", graft.functions.VectorFunctions
          .cosineSimilarity(col("page_content_vector"), typedlit(qvec)))
        .orderBy(desc("similarity"), asc("document_path"), asc("page_number"))
        .limit(kEach)
        .withColumn("rank", row_number().over( // kEach-bounded frame
          Window.orderBy(desc("similarity"), asc("document_path"),
            asc("page_number"))))
        .select(col("document_path"), col("page_number"), col("rank"))
      val terms = prompt.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
      // a whitespace-only prompt has no lexical side: degrade to
      // vector-only ranks instead of refusing the search
      val lex =
        if (terms.nonEmpty)
          graft.operators.Bm25.topKPathPage(slice, "page_content",
            "document_path", "page_number", terms, kEach)
        else vec.limit(0)
      val keys = Seq("document_path", "page_number")
      val fused = lex.select(col("document_path"), col("page_number"),
          col("rank").cast("double").as("ra"))
        .join(vec.select(col("document_path"), col("page_number"),
          col("rank").cast("double").as("rb")), keys, "full_outer")
        .select(col("document_path"), col("page_number"), round(
          coalesce(lit(1.0) / (lit(rrfC.toDouble) + col("ra")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfC.toDouble) + col("rb")), lit(0.0)),
          6).as("rrf_score"))
        .withColumn("rank", row_number().over( // <= 2*kEach rows
          Window.orderBy(desc("rrf_score"), asc("document_path"),
            asc("page_number"))))
        .where(col("rank") <= topN)
      fused.join(slice.select(col("id"), col("index_alias"),
          col("document_path"), col("page_number"), col("page_content")), keys)
        .select(col("id"), col("index_alias"), col("document_path"),
          col("page_number"), col("page_content"), col("rrf_score"), col("rank"))
        .orderBy(col("rank"))
        .localCheckpoint() // materialize before the slice cache is dropped
    } finally slice.unpersist(false)
  }

  def searchAsOf(prompt: String, alias: String, genId: Long,
                 topN: Int = 10): DataFrame = {
    val qvec = queryVec(prompt)
    val slice = IndexTable.readGeneration(spark, indexPath, resolveAlias(alias), genId)
    KnnSearch.hitProjection(KnnSearch.topK(slice, qvec, topN))
  }

  /** Store maintenance: physically apply upserts and rewrite the tenant's
    * files (see [[IndexTable.compact]]). Returns surviving row count. */
  def compactIndex(alias: String,
                   retainMillis: Long = IndexTable.DefaultRetainMillis): Long = {
    invalidateServing(alias)
    val gen = IndexTable.compact(spark, indexPath, resolveAlias(alias), retainMillis)
    // compaction folds tombstones/updates out of the tenant — the lazy
    // re-link point for a persisted graph ([[deleteDocuments]]): drop it
    // so the next approximate search rebuilds over exactly the live rows,
    // restoring every in-neighbor of the removed nodes.
    if (graphM.nonEmpty) invalidateGraph(alias)
    gen
  }

  /** Retention-gated removal of superseded generations and folded delta
    * files (see [[IndexTable.vacuum]]) — run separately when compactions
    * are frequent and space matters. */
  def vacuumIndex(alias: String,
                  retainMillis: Long = IndexTable.DefaultRetainMillis): Unit =
    IndexTable.vacuum(spark, indexPath, resolveAlias(alias), retainMillis)

  /** Time-travel catalog: committed generation ids for the index, newest
    * first (each is a consistent snapshot; the vacuum retention window
    * bounds how far back the catalog reaches). */
  def indexGenerations(alias: String): Seq[Long] =
    IndexTable.generations(spark, indexPath, resolveAlias(alias))

  /** Snapshot read of the index as of a committed generation (see
    * [[IndexTable.readGeneration]]). */
  def readIndexGeneration(alias: String, genId: Long): DataFrame =
    IndexTable.readGeneration(spark, indexPath, resolveAlias(alias), genId)

  /** E2 full answer pipeline: retrieve, rerank, threshold, project answers. */
  def answers(prompt: String, alias: String, topN: Int = 10,
              fanout: Int = 50, threshold: Int = Rerank.ScoreThreshold): DataFrame =
    Rerank.answers(search(prompt, alias, fanout), prompt, topN, threshold)

  // H1: session query log (the reference keeps it in Streamlit session
  // state, app/app.py:291-296; here an in-memory append log).
  private val log = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]

  def logQuery(question: String, answerCount: Long): Unit =
    log.synchronized { log += ((log.size, question, answerCount)) }

  /** H2: newest-first history. */
  def history(): DataFrame = {
    import spark.implicits._
    log.synchronized { log.toSeq }.toDF("seq", "question", "n_answers")
      .orderBy(desc("seq"))
  }
}

object GraftVectorStore {
  /** A pluggable embedding model for the store: `docCol` the distributed
    * column form (cleansed page text -> array<float> vector), `query` the
    * driver-side prompt form. The two MUST compute the same function of
    * the text, or ingest-side and query-side vectors live in different
    * spaces. */
  final case class Embedding(
      docCol: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      query: String => Array[Float])

  /** Memory-resident graph-serving state (see the servingState scaladoc in
    * the class): the tenant's latest slice for the hit projection plus
    * driver hash maps of vectors/adjacency the local walk cores run over. */
  private[graft] final case class GraphServing(
      slice: DataFrame,
      vecs: Map[Long, Array[Float]],
      flatAdj: Map[Long, Seq[Long]],
      layerAdj: Map[Int, Map[Long, Seq[Long]]],
      entries: Seq[Long])
}
