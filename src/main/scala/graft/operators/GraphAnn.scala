package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Graph-based approximate nearest neighbor — the structural analogue of the
  * reference's HNSW index (reference `modules/utilities.py:272-278`), closing
  * the approximate ladder next to the LSH and IVF operators
  * ([[SimilaritySearch]]).
  *
  * HNSW itself is a pointer-chasing structure that lives in one machine's
  * memory; the Spark-native re-expression keeps its two ideas — a
  * navigable k-NN neighbor graph, and greedy best-first traversal — but as
  * relational state and join-per-round iteration (the same cadence as
  * [[Graph.pageRank]] / [[Dedup.connectedComponents]]):
  *
  *  1. [[knnGraph]] BUILD: candidate pairs from multi-table sign-LSH
  *     bucketing (never all-pairs), exact cosine verify, then each node
  *     keeps its M best neighbors via the bounded-buffer
  *     [[graft.functions.TopKBy]] aggregate. The edge table is just a
  *     DataFrame — it shards, compacts, and joins like any other.
  *  2. [[beamSearch]] QUERY: per query, score a deterministic entry set,
  *     then `rounds` iterations of (frontier ⋈ edges) expansion — visited
  *     nodes tracked per query, each round's best `beam` NEW nodes become
  *     the next frontier, exactly HNSW's ef-bounded greedy walk done
  *     batch-synchronously for a whole query SET at once.
  *
  * Scale shape: the build is LSH-bounded (corpus × tables rows, bucket-local
  * pairs); the search never scans the corpus — each round touches
  * |queries| × beam × M candidate ids, the frontier side of every join is
  * tiny (broadcast), and the corpus-sized edge/vector tables are only ever
  * probed by key. Lineage is truncated per round with localCheckpoint, the
  * connectedComponents discipline for iterative plans.
  */
object GraphAnn {

  /** Build the k-NN neighbor graph: multi-table sign-LSH candidates, exact
    * cosine, top-`m` per node (both directions considered, so a node's list
    * is its best among all candidates that met it in ANY table), then the
    * REVERSE of every chosen edge is kept too — HNSW's bidirectional-link
    * rule. Without it an outlier that appears in nobody's top-m has
    * out-edges but no in-edges and is unreachable by navigation; with it,
    * every node that produced any candidate pair is reachable from its
    * neighborhood. Returns (src, dst, sim) with out-degree <= 2m.
    *
    * `nTables` × `nBits` trade build cost for graph quality the same way
    * HNSW's efConstruction does: more tables → more candidate pairs → each
    * node's M list closer to its true M nearest. */
  def knnGraph(corpus: DataFrame, m: Int = 8, nBits: Int = 4, nTables: Int = 8,
               dim: Int = 64, seed: Long = 7L,
               vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(m >= 1 && nBits >= 1 && nTables >= 1)
    val c = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    // one narrow pass per table: (id, bucket) — vectors stay behind, pairs
    // are formed on 8-byte keys and only rejoin vectors once, after dedup
    val keyed = (0 until nTables).map { t =>
      val planes = SimilaritySearch.hyperplanes(nBits, dim, seed + t)
      c.select(col("id"),
        concat(lit(s"$t:"), SimilaritySearch.lshBucket(col("vec"), planes)).as("bkt"))
    }.reduce(_ unionByName _)
    val pairs = keyed.as("a")
      .join(keyed.as("b"), col("a.bkt") === col("b.bkt") && col("a.id") < col("b.id"))
      .select(col("a.id").as("src"), col("b.id").as("dst"))
      .distinct() // a pair may meet in several tables; score it once
    val scored = pairs
      .join(c.select(col("id").as("src"), col("vec").as("v_src")), "src")
      .join(c.select(col("id").as("dst"), col("vec").as("v_dst")), "dst")
      .withColumn("sim",
        round(VectorFunctions.cosineSimilarity(col("v_src"), col("v_dst")), 4))
      .select(col("src"), col("dst"), col("sim"))
    // symmetrize BEFORE the per-node cap: each node ranks every candidate
    // that met it in any table, in either role
    val sym = scored.unionByName(
      scored.select(col("dst").as("src"), col("src").as("dst"), col("sim")))
    val topm = udaf(graft.functions.TopKBy(m))
    val chosen = sym.groupBy(col("src"))
      .agg(topm(col("sim"), col("dst")).as("__nn"))
      .select(col("src"), explode(col("__nn")).as("e"))
      .select(col("src"), col("e._2").as("dst"), col("e._1").as("sim"))
    // bidirectional links: a chosen edge is walkable from BOTH endpoints.
    // A popular node can acquire unboundedly many reverse links, so the
    // union is re-capped at 2m keeping the closest — HNSW's maxM pruning.
    val cap2m = udaf(graft.functions.TopKBy(2 * m))
    chosen.unionByName(
        chosen.select(col("dst").as("src"), col("src").as("dst"), col("sim")))
      .dropDuplicates("src", "dst")
      .groupBy(col("src"))
      .agg(cap2m(col("sim"), col("dst")).as("__nn"))
      .select(col("src"), explode(col("__nn")).as("e"))
      .select(col("src"), col("e._2").as("dst"), col("e._1").as("sim"))
  }

  /** Portable HNSW layer assignment: the run of leading '0' hex chars in
    * md5(id) — geometric with p = 1/16 per level, the layer distribution
    * HNSW draws with mL = 1/ln(16). ANSI-replayable (DuckDB:
    * `length(h) - length(ltrim(h, '0'))`), deterministic, and
    * partitioning-independent, like every other md5-seed convention. */
  def layerOf(id: Column): Column =
    length(regexp_extract(md5(id.cast("string")), "^0*", 0))

  /** Hierarchical (HNSW-style) layered k-NN graph: layer 0 is the full
    * [[knnGraph]]; each higher layer ℓ is the same LSH-candidate build over
    * only the nodes with [[layerOf]] ≥ ℓ — nested subsets shrinking
    * geometrically (×1/16 per level), exactly HNSW's pyramid. Returns
    * (layer, src, dst, sim); a layer with fewer than two nodes simply
    * contributes no edges. `maxLayer` bounds the pyramid height (layers
    * above it fold into `maxLayer`'s node set by construction, since the
    * filter is `≥ ℓ`).
    *
    * Scale shape: layer 0 dominates (the existing knnGraph cost); every
    * layer above it runs over a 16×-smaller node set, so the whole
    * hierarchy costs ~7% more than the flat graph while giving the search
    * a logarithmic descent instead of a random entry sample. */
  def hnswGraph(corpus: DataFrame, m: Int = 8, nBits: Int = 4, nTables: Int = 8,
                dim: Int = 64, seed: Long = 7L, maxLayer: Int = 2,
                vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(maxLayer >= 0)
    // ONE keyed build instead of maxLayer+1 chained [[knnGraph]] calls
    // (round-10: the per-layer form re-ran the whole 5-shuffle build chain
    // per level — ~15 stages for 3 layers, pure fixed-stage overhead on
    // the geometric upper levels, and the committed ann_hnsw_edges cost
    // drifted with whatever JVM state those extra stages hit). Each node
    // replicates to layers 0..its md5 level and `layer` simply joins every
    // key: one bucket self-join, one pair-scoring join, one top-m and one
    // 2m re-cap — the flat build's stage count for the whole pyramid.
    // Restricted to a single layer this is exactly [[knnGraph]] over that
    // layer's node subset (same planes per table, same round-4 cosine,
    // same (sim desc, id) caps) — the hash-gated contract, unchanged.
    val c = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .withColumn("layer", explode(sequence(lit(0),
        least(layerOf(col("id")), lit(maxLayer)))))
    val keyed = (0 until nTables).map { t =>
      val planes = SimilaritySearch.hyperplanes(nBits, dim, seed + t)
      c.select(col("layer"), col("id"),
        concat(lit(s"$t:"), SimilaritySearch.lshBucket(col("vec"), planes)).as("bkt"))
    }.reduce(_ unionByName _)
    val pairs = keyed.as("a")
      .join(keyed.as("b"),
        col("a.layer") === col("b.layer") && col("a.bkt") === col("b.bkt") &&
          col("a.id") < col("b.id"))
      .select(col("a.layer").as("layer"), col("a.id").as("src"), col("b.id").as("dst"))
      .distinct()
    val v = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    val scored = pairs
      .join(v.select(col("id").as("src"), col("vec").as("v_src")), "src")
      .join(v.select(col("id").as("dst"), col("vec").as("v_dst")), "dst")
      .withColumn("sim",
        round(VectorFunctions.cosineSimilarity(col("v_src"), col("v_dst")), 4))
      .select(col("layer"), col("src"), col("dst"), col("sim"))
    val sym = scored.unionByName(
      scored.select(col("layer"), col("dst").as("src"), col("src").as("dst"), col("sim")))
    val topm = udaf(graft.functions.TopKBy(m))
    val chosen = sym.groupBy(col("layer"), col("src"))
      .agg(topm(col("sim"), col("dst")).as("__nn"))
      .select(col("layer"), col("src"), explode(col("__nn")).as("e"))
      .select(col("layer"), col("src"), col("e._2").as("dst"), col("e._1").as("sim"))
    val cap2m = udaf(graft.functions.TopKBy(2 * m))
    chosen.unionByName(
        chosen.select(col("layer"), col("dst").as("src"), col("src").as("dst"), col("sim")))
      .dropDuplicates("layer", "src", "dst")
      .groupBy(col("layer"), col("src"))
      .agg(cap2m(col("sim"), col("dst")).as("__nn"))
      .select(col("layer"), col("src"), explode(col("__nn")).as("e"))
      .select(col("layer").cast("int").as("layer"), col("src"),
        col("e._2").as("dst"), col("e._1").as("sim"))
  }

  /** HNSW-style search over a [[hnswGraph]]: start at the single global
    * entry point (the max-layer node, ties by (md5, id) — the portable
    * seed convention), greedily descend the upper layers (per layer,
    * `descentRounds` rounds of "move to the best of current ∪ neighbors",
    * best-1 by (round-4 sim desc, id)), then run the standard `beam`/
    * `rounds` walk on layer 0 seeded with the descended per-query entry.
    * Fixed round counts (rather than walk-until-no-improvement) keep the
    * whole search a finite unrolled plan an ANSI oracle replays
    * decision-for-decision — the ann_graph_beam discipline, extended with
    * the hierarchy. Output: (queryId, corpusId, similarity, rank ≤ k),
    * self excluded. */
  def hnswSearch(corpus: DataFrame, layeredEdges: DataFrame, queries: DataFrame,
                 k: Int = 10, beam: Int = 8, rounds: Int = 3,
                 descentRounds: Int = 2, maxLayer: Int = 2,
                 corpusVec: String = "embedding", corpusId: String = "vec_id",
                 queryVec: String = "q_vec", queryId: String = "q_id"): DataFrame =
    hnswSearchBeams(corpus, layeredEdges, queries, k, Seq(beam), rounds,
      descentRounds, maxLayer, corpusVec, corpusId, queryVec, queryId)
      .drop("beam")

  /** [[hnswSearch]] at SEVERAL beam widths off ONE cascade — the
    * recall-vs-beam tuning curve's engine. The hierarchy descent and the
    * seed score are beam-INDEPENDENT (greedy best-1 per upper layer, then
    * one scored entry per query), so they run once; only the layer-0
    * walk's per-round frontier cut differs per width, and each width
    * re-walks from the shared materialized seed. Returns the
    * [[hnswSearch]] rows with a leading `beam` column. */
  def hnswSearchBeams(corpus: DataFrame, layeredEdges: DataFrame,
                      queries: DataFrame, k: Int, beams: Seq[Int],
                      rounds: Int = 3, descentRounds: Int = 2,
                      maxLayer: Int = 2,
                      corpusVec: String = "embedding",
                      corpusId: String = "vec_id",
                      queryVec: String = "q_vec",
                      queryId: String = "q_id",
                      driverCorpusBudget: Long = WalkDriverCorpusBudget): DataFrame = {
    require(k >= 1 && beams.nonEmpty && beams.forall(_ >= 1) && rounds >= 0
      && descentRounds >= 1 && maxLayer >= 0)
    val spark = corpus.sparkSession
    // walk-sized shuffles run on a session CLONE scoped to
    // WalkShufflePartitions (own SQLConf — no shared-conf mutation to race
    // with concurrent queries); only the loop's eager checkpoints execute
    // under it, and the returned frame re-binds to the caller's session.
    val walk = walkSession(spark)
    locally {
      // materialize the (id, vector) slice ONCE for the whole cascade: the
      // walk's ~10 sequential jobs (4 descent checkpoints + seed + rounds)
      // each probe the corpus by key, and without this every job re-scans
      // and re-decodes the corpus parquet — measured ~25% of the warm
      // query at sf0.1. One materialization per query BATCH is the batch
      // walk's amortized access shape. The corpus
      // count rides this already-paid checkpoint as an Observation — the
      // size-dispatch probe, zero extra passes.
      val obs = org.apache.spark.sql.Observation()
      val c = walk(corpus).select(col(corpusId).cast("long").as("__cid"),
          col(corpusVec).as("__cvec"))
        .observe(obs, count(lit(1)).as("n"),
          // non-null id/vector counts ride the same pass: the driver
          // tier's entry ranking iterates the collected (null-dropped)
          // vector map, while the distributed TakeOrdered ranks EVERY row
          // (least(null, maxLayer) = maxLayer, md5(null) sorts first), so
          // a corpus with null ids/vectors must dispatch to the
          // distributed cascade — the tiers pick different entries there
          // (round-12 review fix; NullIdCorpus spec pins the dispatch).
          count(col("__cid")).as("nid"), count(col("__cvec")).as("nvec"))
        .localCheckpoint()
      // q is broadcast inside EVERY score() job (~10 of them) — checkpoint
      // it too so each broadcast collects from memory instead of re-running
      // the query-side scan
      val q = walk(queries).select(col(queryId).cast("long").as("__qid"),
          col(queryVec).as("__qvec"))
        .localCheckpoint()
      // Driver tier (the Graph.pageRank dispatch brought to the cascade):
      // under budget the WHOLE hierarchy walk — descent, seed, every beam
      // width's rounds — runs on collected maps with the identical
      // portable arithmetic, replacing ~10 jobs x |beams| of fixed
      // scheduler overhead with three collects of already-materialized
      // frames. Missing metric or any type surprise fails SAFE to the
      // distributed cascade below (the only shape at real index volumes).
      val n = try obs.get("n").asInstanceOf[Long] catch {
        case _: NoSuchElementException => Long.MaxValue
      }
      // nulls observed => -1 on a missing metric, which never equals n —
      // either failure mode keeps the driver tier closed (fail SAFE)
      val nNonNull = try
        math.min(obs.get("nid").asInstanceOf[Long],
          obs.get("nvec").asInstanceOf[Long])
      catch { case _: NoSuchElementException => -1L }
      if (driverCorpusBudget > 0L && n <= driverCorpusBudget &&
          nNonNull == n &&
          isFloatArray(corpus.schema(corpusVec).dataType) &&
          isFloatArray(queries.schema(queryVec).dataType) &&
          layeredEdges.schema("src").dataType == org.apache.spark.sql.types.LongType &&
          layeredEdges.schema("dst").dataType == org.apache.spark.sql.types.LongType) {
        val el = walk(layeredEdges)
          .where(col("layer") >= 0 && col("layer") <= maxLayer)
          .select(col("layer").cast("int"), col("src").cast("long"),
            col("dst").cast("long"))
          .where(col("src").isNotNull && col("dst").isNotNull)
        if (el.count() <= WalkDriverEdgeBudget) {
          val vecMap = vecMapOf(c.where(col("__cid").isNotNull &&
              col("__cvec").isNotNull).collect()
            .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)))
          val qArr = q.where(col("__qid").isNotNull && col("__qvec").isNotNull)
            .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          val byLayer = el.collect()
            .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2))))
            .groupBy(_._1).map { case (l, xs) =>
              (l, adjacencyOf(xs.map(_._2))) }
          val rows = hnswBeamsLocal(vecMap, byLayer, qArr, k, beams, rounds,
            descentRounds, maxLayer)
          graft.core.TierStats.record("hnswSearchBeams", "driver")
          return localWalkFrame(spark, rows, Seq(queryId, corpusId),
            withBeam = Some("beam"))
        }
      }
      graft.core.TierStats.record("hnswSearchBeams", "distributed")
      def score(cand: DataFrame): DataFrame =
        c.join(broadcast(cand), Seq("__cid"))
          .join(broadcast(q), Seq("__qid"))
          .withColumn("similarity",
            round(VectorFunctions.cosineSimilarity(col("__cvec"), col("__qvec")), 4))
          .select(col("__qid"), col("__cid"), col("similarity"))
      def edgesAt(l: Int): DataFrame = layeredEdges.where(col("layer") === l)
        .select(col("src").as("__esrc"), col("dst").as("__edst"))
      // global entry: the deepest node, (md5, id)-tie-broken
      val entry = c
        .select(col("__cid"), least(layerOf(col("__cid")), lit(maxLayer)).as("__lv"))
        .orderBy(col("__lv").desc, md5(col("__cid").cast("string")), col("__cid"))
        .limit(1).select(col("__cid"))
      // checkpoint each descent round: `cur` is referenced twice per round
      // (neighbor join + candidate union), so fusing rounds into one plan
      // doubles recompute per nesting level — measured 2x slower than the
      // per-round materialization of this |queries|-row frame
      var cur = q.select(col("__qid")).crossJoin(broadcast(entry)).localCheckpoint()
      for (l <- maxLayer to 1 by -1; _ <- 1 to descentRounds) {
        val el = edgesAt(l)
        val nbr = el.join(broadcast(cur), col("__cid") === col("__esrc"))
          .select(col("__qid"), col("__edst").as("__cid"))
        val cand = cur.unionByName(nbr).distinct()
        cur = score(cand)
          .groupBy(col("__qid"))
          .agg(max_by(col("__cid"),
            struct(col("similarity"), (-col("__cid")).as("n"))).as("__cid"))
          .localCheckpoint()
      }
      // layer-0 beam walk seeded with the descended entry (nEntry = 1);
      // the seed score is beam-independent — materialized once, every
      // width walks from it
      val e0 = edgesAt(0)
      val seed = score(cur).localCheckpoint()
      // each width's walk is independent after the shared seed — run them
      // as concurrent job chains (driver threads; the walk frames are
      // beam-sized, so the cluster runs B small job streams side by side
      // instead of B× the wall time; measured 5.1 -> ~3 s for the 3-width
      // recall gate at sf0.1)
      def walkAt(beam: Int): DataFrame = {
        val topBeam = udaf(graft.functions.TopKBy(beam))
        def bestNew(scored: DataFrame): DataFrame =
          scored.groupBy(col("__qid"))
            .agg(topBeam(col("similarity"), col("__cid")).as("__f"))
            .select(col("__qid"), explode(col("__f")).as("x"))
            .select(col("__qid"), col("x._2").as("__cid"))
        var visited = seed
        var frontier = bestNew(visited)
        for (_ <- 1 to rounds) {
          val expanded = e0
            .join(broadcast(frontier), frontier("__cid") === col("__esrc"))
            .select(col("__qid"), col("__edst").as("__cid")).distinct()
          val fresh = expanded.join(visited.select(col("__qid"), col("__cid")),
            Seq("__qid", "__cid"), "left_anti")
          // checkpoint the round's delta (see beamVisitedImpl): flattens
          // the frontier lineage without rewriting the cumulative set
          val freshScored = score(fresh).localCheckpoint()
          visited = visited.unionByName(freshScored)
          frontier = bestNew(freshScored)
        }
        SimilaritySearch.topKPerQuery(
          visited.where(col("__cid") =!= col("__qid"))
            .withColumnRenamed("__qid", queryId).withColumnRenamed("__cid", corpusId),
          k, queryId, corpusId)
          .select(lit(beam).as("beam"), col(queryId), col(corpusId),
            col("similarity"), col("rank"))
      }
      val perBeam =
        if (beams.size == 1) beams.map(walkAt)
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(beams.size)
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.fromExecutorService(pool)
          try scala.concurrent.Await.result(
            scala.concurrent.Future.sequence(
              beams.map(b => scala.concurrent.Future(walkAt(b)))),
            scala.concurrent.duration.Duration.Inf)
          finally pool.shutdown()
        }
      org.apache.spark.sql.graftbridge.SessionBridge.withSession(
        perBeam.reduce(_ unionByName _), spark)
    }
  }

  /** Build-once persisted neighbor graph — the index-on-disk form. A graph
    * index is constructed once and amortized over every query against it
    * (HNSW's whole economics); this is the same persistence contract as
    * [[IndexTable]]'s IVF codebook (`_graft_centroids`): the first call
    * writes the [[knnGraph]] edge table under `path`, later calls reuse it.
    * At 100 TB the build is the heavy LSH-bounded batch job and the beam
    * search reads the edge table by key — rebuilding per query would be the
    * scale bug. */
  def knnGraphPersisted(corpus: DataFrame, path: String,
                        m: Int = 8, nBits: Int = 4, nTables: Int = 8,
                        dim: Int = 64, seed: Long = 7L,
                        vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    graft.core.PersistedBuild.table(
      knnGraph(corpus, m, nBits, nTables, dim, seed, vecCol, idCol),
      path, corpus.sparkSession)

  /** [[hnswGraph]] under the same build-once persistence contract as
    * [[knnGraphPersisted]]. Beyond amortizing the build, persistence keeps
    * each search job's plan a trivial parquet scan — referencing the
    * in-plan layered build instead makes every one of the walk's ~10
    * sequential jobs carry the full 3-layer LSH lineage (measured: MiB-
    * sized task binaries and a build re-run at the walk's 8 shuffle
    * partitions). */
  def hnswGraphPersisted(corpus: DataFrame, path: String,
                         m: Int = 8, nBits: Int = 4, nTables: Int = 8,
                         dim: Int = 64, seed: Long = 7L, maxLayer: Int = 2,
                         vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    graft.core.PersistedBuild.table(
      hnswGraph(corpus, m, nBits, nTables, dim, seed, maxLayer, vecCol, idCol),
      path, corpus.sparkSession)

  /** HNSW-style incremental insert: link a batch of NEW nodes into an
    * existing [[knnGraph]] edge table without rebuilding it — the
    * daily-append shape every other store path already supports
    * (delta compaction, incremental MinHash).
    *
    * Exactly HNSW's insertion recipe, batch-synchronously: each new node
    * beam-searches the EXISTING graph (the same walk queries use — the
    * insert cost IS a query cost) for its `m` best neighbors, links are
    * added in BOTH directions, and every touched adjacency list is
    * re-capped at 2m keeping the closest (the maxM prune [[knnGraph]]
    * applies at build). Batch-internal near-neighbors (new↔new) come from
    * the same LSH-candidate construction as the full build, run on the
    * batch only — without it, two similar docs arriving in one batch
    * would be invisible to each other until the next rebuild.
    *
    * `corpus` must carry vectors for BOTH old and new ids (the store's
    * latest view after the append); `newNodes` is the batch. Ids in
    * `newNodes` must be NEW — re-inserting an existing id would leave its
    * stale out-edges navigable; callers detect updates and rebuild.
    *
    * Scale shape: the beam walk is |batch| × beam × 2m frontier-sized
    * (constant in corpus size); the batch-internal build is LSH-bounded
    * over the batch alone; the re-cap aggregation touches only nodes
    * adjacent to an inserted edge (semi-join pruned), and every untouched
    * adjacency row passes through without being grouped. Rebuild cost
    * O(corpus) becomes insert cost O(batch). */
  def insertNodes(corpus: DataFrame, edges: DataFrame, newNodes: DataFrame,
                  m: Int = 8, beam: Int = 8, rounds: Int = 3, nEntry: Int = 8,
                  nBits: Int = 4, nTables: Int = 8, dim: Int = 64, seed: Long = 7L,
                  vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(m >= 1)
    val q = newNodes.select(col(idCol).cast("long").as("q_id"),
      col(vecCol).as("q_vec"))
    // each new node's m best EXISTING neighbors, found the way a query
    // would find them (entry sample + greedy walk over the old graph)
    val found = beamSearch(corpus, edges, q, k = m, beam, rounds, nEntry,
      corpusVec = vecCol, corpusId = idCol, queryVec = "q_vec",
      queryId = "q_id", excludeSelf = true)
    val toExisting = found.select(col("q_id").as("src"),
      col(idCol).as("dst"), col("similarity").as("sim"))
    // batch-internal candidates: the full build's LSH construction on the
    // batch only (already symmetric + capped; re-capped below anyway)
    val internal = knnGraph(newNodes, m, nBits, nTables, dim, seed, vecCol, idCol)
    val added = toExisting
      .unionByName(toExisting.select(col("dst").as("src"), col("src").as("dst"),
        col("sim")))
      .unionByName(internal)
    // re-cap ONLY the touched adjacency lists; untouched nodes pass through
    val touched = added.select(col("src")).distinct()
    val cap2m = udaf(graft.functions.TopKBy(2 * m))
    val recapped = edges.join(touched, Seq("src"), "left_semi")
      .unionByName(added)
      .dropDuplicates("src", "dst")
      .groupBy(col("src"))
      .agg(cap2m(col("sim"), col("dst")).as("__nn"))
      .select(col("src"), explode(col("__nn")).as("e"))
      .select(col("src"), col("e._2").as("dst"), col("e._1").as("sim"))
    edges.join(touched, Seq("src"), "left_anti").unionByName(recapped)
  }

  /** Batch greedy beam search over a [[knnGraph]] edge table.
    *
    * Entry points are a deterministic pseudo-random node sample ordered by
    * (md5(id), id) — the kmeans-seed convention, ANSI-portable so an
    * oracle can replay the walk; each round expands the frontier's
    * out-edges, drops already-
    * visited (query, node) pairs with an anti-join, scores the fresh nodes,
    * and keeps the best `beam` new nodes per query as the next frontier.
    * After `rounds` expansions the answer is the top-`k` of everything each
    * query visited. Tie-breaks everywhere are (similarity desc, id asc) on
    * the 4-rounded similarity — the house convention, so results are
    * engine- and partitioning-independent. */
  def beamSearch(corpus: DataFrame, edges: DataFrame, queries: DataFrame,
                 k: Int = 10, beam: Int = 8, rounds: Int = 3, nEntry: Int = 8,
                 corpusVec: String = "embedding", corpusId: String = "vec_id",
                 queryVec: String = "q_vec", queryId: String = "q_id",
                 excludeSelf: Boolean = true,
                 portable: Boolean = true,
                 driverCorpusBudget: Long = WalkDriverCorpusBudget): DataFrame = {
    require(k >= 1)
    // Size dispatch (the Graph.pageRank pattern brought to the gated
    // walks): the entry TakeOrdered is an id-column scan BOTH tiers need,
    // so the corpus count rides it as an Observation — zero extra passes;
    // a missing metric fails SAFE to the distributed loop. Under budget the
    // whole walk runs driver-resident with the portable arithmetic
    // (round-4 sims, md5 entries — bit-identical, spec-pinned); over
    // budget the distributed loop runs unchanged, seeded with the entry
    // ids this probe already ranked.
    if (portable && driverCorpusBudget > 0L &&
        isFloatArray(corpus.schema(corpusVec).dataType) &&
        isFloatArray(queries.schema(queryVec).dataType)) {
      val obs = org.apache.spark.sql.Observation()
      val ids = corpus.select(col(corpusId).cast("long").as("__cid"))
        .observe(obs, count(lit(1)).as("n"))
      // null ids may occupy entry slots in the TakeOrdered exactly as in
      // the in-plan entry sample; they are dropped here the same way the
      // distributed score()'s inner join drops them — never scored.
      val entryIds = ids.orderBy(md5(col("__cid").cast("string")), col("__cid"))
        .limit(nEntry).collect()
        .flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
      val n = try obs.get("n").asInstanceOf[Long] catch {
        case _: NoSuchElementException => Long.MaxValue
      }
      if (n <= driverCorpusBudget &&
          edges.schema("src").dataType == org.apache.spark.sql.types.LongType &&
          edges.schema("dst").dataType == org.apache.spark.sql.types.LongType) {
        val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
          .where(col("src").isNotNull && col("dst").isNotNull)
        if (e.count() <= WalkDriverEdgeBudget) {
          val vecMap = vecMapOf(collectIdVec(corpus, corpusId, corpusVec))
          val qArr = collectIdVec(queries, queryId, queryVec)
          val adj = adjacencyOf(e.collect().map(r => (r.getLong(0), r.getLong(1))))
          val rows = qArr.toSeq.flatMap { case (qid, qvec) =>
            val visited = new scala.collection.mutable.LongMap[Double]()
            val entryScored = entryIds.flatMap(id =>
              vecMap.get(id).map(v => (id, round4(cosDouble(qvec, v)))))
            entryScored.foreach { case (id, s) => visited(id) = s }
            val frontier0 = entryScored
              .sortBy { case (id, s) => (-s, id) }.take(beam).map(_._1)
            localPortableRounds(qvec, vecMap, adj, visited, frontier0, beam, rounds)
            visited.toSeq
              .filter { case (id, _) => !excludeSelf || id != qid }
              .sortBy { case (id, s) => (-s, id) }.take(k)
              .zipWithIndex.map { case ((id, s), i) =>
                org.apache.spark.sql.Row(qid, id, s, i + 1) }
          }
          graft.core.TierStats.record("beamSearch", "driver")
          return localWalkFrame(corpus.sparkSession, rows,
            Seq(queryId, corpusId), withBeam = None)
        }
      }
      graft.core.TierStats.record("beamSearch", "distributed")
      val visited = beamVisited(corpus, edges, queries, beam, rounds, nEntry,
        corpusVec, corpusId, queryVec, queryId, portable,
        entryIdsOpt = Some(entryIds))
      return topKFromVisited(visited, k, corpusId, queryId, excludeSelf)
    }
    graft.core.TierStats.record("beamSearch", "distributed")
    val visited = beamVisited(corpus, edges, queries, beam, rounds, nEntry,
      corpusVec, corpusId, queryVec, queryId, portable)
    topKFromVisited(visited, k, corpusId, queryId, excludeSelf)
  }

  /** Float-widened double cosine — exactly CosineSimilarityExpr's
    * arithmetic, so the driver-resident walks score bit-identically to the
    * distributed ones. */
  def cosDouble(q: Array[Float], v: Seq[Float]): Double = {
    val n = math.min(v.length, q.length)
    var dp = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = v(i).toDouble; val y = q(i).toDouble
      dp += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dp / denom
  }

  /** Rank a [[beamVisited]] set: top-k per query, self-excluded by default. */
  def topKFromVisited(visited: DataFrame, k: Int,
                      corpusId: String = "vec_id", queryId: String = "q_id",
                      excludeSelf: Boolean = true): DataFrame = {
    val eligible =
      if (excludeSelf) visited.where(col(corpusId) =!= col(queryId)) else visited
    SimilaritySearch.topKPerQuery(eligible, k, queryId, corpusId)
  }

  /** The full (query, node, similarity) visited set behind [[beamSearch]] —
    * every node each query actually scored. Exposed so recall probes report
    * the TRUE scored fraction (|visited| / (|queries| × |corpus|)), the
    * honest cost axis to compare against IVF's nprobe/nlist. */
  /** Every shuffle inside the walk (distinct, anti-join, frontier/top-k
    * aggregations) carries frontier-sized data — |queries| × beam × 2m rows
    * at most, REGARDLESS of corpus size (the corpus-sized edge/vector
    * tables enter only as broadcast-probe sides). Running those stages at
    * the session's corpus-tuned shuffle-partition count just multiplies
    * empty tasks across the ~rounds × 8 stages of the loop, so the walk
    * temporarily scopes `spark.sql.shuffle.partitions` down (restored on
    * exit; Spark reads the conf at each action, and the loop's
    * localCheckpoints are the only actions in scope). */
  private val WalkShufflePartitions = 8

  /** Session clone scoped to [[WalkShufflePartitions]] for walk-sized
    * frames: returns a re-binder that roots a DataFrame's plan at the
    * clone (own SQLConf, shared context/cache/checkpoints). Replaces the
    * round-7 set/restore of `spark.sql.shuffle.partitions` on the SHARED
    * session, which raced against concurrent queries (their corpus-sized
    * shuffles could plan at the walk's 8 partitions). */
  private def walkSession(spark: org.apache.spark.sql.SparkSession)
      : DataFrame => DataFrame =
    org.apache.spark.sql.graftbridge.SessionBridge
      .scopedShuffle(spark, WalkShufflePartitions)

  /** `portable = true` (the gated default) keeps the oracle-replayable
    * arithmetic: md5-ordered entry sample and round-4 similarities, so a
    * DuckDB oracle reproduces the walk decision-for-decision. `portable =
    * false` is the serving form: same
    * walk — including the md5-ordered entry sample (one tiny TakeOrdered
    * either way, so serving keeps the gate's entry choice) — with raw
    * double similarities (no per-score rounding): still fully
    * deterministic (ties break on id), just not replayable by an ANSI
    * oracle. The twin discipline of embed_documents / embed_hashed_sparse,
    * pointed the other way: the gate pays the portability tax, the
    * serving path doesn't. */
  def beamVisited(corpus: DataFrame, edges: DataFrame, queries: DataFrame,
                  beam: Int = 8, rounds: Int = 3, nEntry: Int = 8,
                  corpusVec: String = "embedding", corpusId: String = "vec_id",
                  queryVec: String = "q_vec", queryId: String = "q_id",
                  portable: Boolean = true,
                  entryIdsOpt: Option[Seq[Long]] = None): DataFrame = {
    require(beam >= 1 && rounds >= 0 && nEntry >= 1)
    val spark = corpus.sparkSession
    // the walk's eager checkpoints run on the scoped clone; the returned
    // (lazy) visited frame re-binds to the caller's session — the same
    // boundary the old set/restore drew, minus the shared-conf race
    val walk = walkSession(spark)
    org.apache.spark.sql.graftbridge.SessionBridge.withSession(
      beamVisitedImpl(walk(corpus), walk(edges), walk(queries), beam, rounds,
        nEntry, corpusVec, corpusId, queryVec, queryId, portable, entryIdsOpt),
      spark)
  }

  private def beamVisitedImpl(corpus: DataFrame, edges: DataFrame, queries: DataFrame,
                              beam: Int, rounds: Int, nEntry: Int,
                              corpusVec: String, corpusId: String,
                              queryVec: String, queryId: String,
                              portable: Boolean,
                              entryIdsOpt: Option[Seq[Long]] = None): DataFrame = {
    val c = corpus.select(col(corpusId).cast("long").as("__cid"),
      col(corpusVec).as("__cvec"))
    // q re-broadcasts inside every round's score() job — checkpoint it so
    // each broadcast collects from memory instead of re-running the
    // query-side scan (measured ~30% of the warm hnsw cascade; same
    // mechanics here). c stays LAZY: this impl also backs insertNodes,
    // where materializing the corpus-sized latest view per insert batch
    // would be the scale bug.
    val q = queries.select(col(queryId).cast("long").as("__qid"),
        col(queryVec).as("__qvec"))
      .localCheckpoint()
    val e = edges.select(col("src").as("__esrc"), col("dst").as("__edst"))

    // the candidate set is frontier-sized — ALWAYS the broadcast side; the
    // corpus vector table must only ever be probed by key, never shuffled
    def score(cand: DataFrame): DataFrame = { // (qid, cid) -> + similarity
      val sim = VectorFunctions.cosineSimilarity(col("__cvec"), col("__qvec"))
      c.join(broadcast(cand), Seq("__cid"))
        .join(broadcast(q), Seq("__qid"))
        .withColumn("similarity", if (portable) round(sim, 4) else sim)
        .select(col("__qid"), col("__cid"), col("similarity"))
    }

    val topBeam = udaf(graft.functions.TopKBy(beam))
    def bestNew(scored: DataFrame): DataFrame = // next frontier: beam best
      scored.groupBy(col("__qid"))
        .agg(topBeam(col("similarity"), col("__cid")).as("__f"))
        .select(col("__qid"), explode(col("__f")).as("x"))
        .select(col("__qid"), col("x._2").as("__cid"))

    // md5-ordered entry sample in BOTH modes (the kmeans-seed convention):
    // portable mode needs it for oracle replay, and serving mode keeps it
    // so the walk starts from the IDENTICAL entry set — measured recall of
    // the serving form equals the gated twin's by construction (the only
    // serving delta is unrounded scores, which moves near-ties only). The
    // md5 ranking is one TakeOrdered over ids — noise next to the walk.
    val entries = entryIdsOpt match {
      // the size-dispatch probe in beamSearch already ranked the entry
      // sample (same md5 TakeOrdered) — reuse the ids as a literal frame
      // so the first checkpoint's broadcast skips the corpus id scan
      case Some(ids) =>
        val sp = corpus.sparkSession
        import sp.implicits._
        ids.toDF("__cid")
      case None => c.select(col("__cid"))
        .orderBy(md5(col("__cid").cast("string")), col("__cid")).limit(nEntry)
    }
    var visited = score(q.select(col("__qid")).crossJoin(entries)).localCheckpoint()
    var frontier = bestNew(visited)
    for (_ <- 1 to rounds) {
      // frontier (|queries| x beam rows) broadcasts against the
      // corpus-sized edge table — same discipline as score()
      val expanded = e
        .join(broadcast(frontier), frontier("__cid") === e("__esrc"))
        .select(col("__qid"), col("__edst").as("__cid")).distinct()
      val fresh = expanded.join(visited.select(col("__qid"), col("__cid")),
        Seq("__qid", "__cid"), "left_anti")
      // checkpoint the ROUND'S DELTA, not the cumulative set: frontier and
      // visited both derive from it, so this one materialization flattens
      // the frontier's lineage (un-checkpointed, each round silently
      // re-executed every prior round's expansion — measured walk rounds
      // growing 1.1 -> 2.0 -> 3.3 s), and the cumulative union of
      // already-materialized deltas needs no rewrite of its own.
      val freshScored = score(fresh).localCheckpoint()
      visited = visited.unionByName(freshScored)
      frontier = bestNew(freshScored)
    }
    visited.withColumnRenamed("__qid", queryId).withColumnRenamed("__cid", corpusId)
  }

  // ---- driver-resident tier for the PORTABLE gated walks ------------------

  /** Corpus-row budget under which the portable batch walks ([[beamSearch]],
    * [[hnswSearchBeams]]) run driver-resident: walk state is at most
    * |queries| × beam × 2m rows, so at fixture scale the join-per-round
    * distributed loop is pure fixed job/stage overhead — the same economics
    * that moved the iterative graph family onto [[Graph.pageRank]]'s driver
    * tier. Over budget the distributed loop runs unchanged (the only shape
    * at real index volumes); under it the IDENTICAL portable arithmetic
    * (round-4 sims, md5 entry ranking, (sim desc, id asc) ties) runs on
    * collected maps — spec-pinned equal, oracle hashes unchanged. */
  val WalkDriverCorpusBudget = 100000L

  /** Edge-row cap for the same tier (out-degree ≤ 2m makes edges the
    * binding constraint when m is large). Counted with one cheap job only
    * after the corpus is already known to be under budget. */
  val WalkDriverEdgeBudget = 4000000L

  private val EmptyLongArray = Array.empty[Long]

  /** Spark `round(_, 4)` on DoubleType reproduced exactly (decimal string →
    * HALF_UP → double) — the [[Graph]] driver-tier convention; a value on a
    * .00005 boundary must not diverge between tiers. */
  private def round4(v: Double): Double =
    java.math.BigDecimal.valueOf(v)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Lowercase-hex md5 of a string — byte-identical to Spark's `md5()`, so
    * the driver-side entry ranking and [[layerOf]] reproduce the
    * distributed orderings character for character (hex is ASCII, where
    * java String ordering equals UTF8String's binary ordering). */
  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    d.foreach { b =>
      sb.append(Character.forDigit((b >> 4) & 0xf, 16))
      sb.append(Character.forDigit(b & 0xf, 16))
    }
    sb.toString
  }

  private def isFloatArray(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }

  /** Collect (id, vector) pairs; null ids/vectors drop, matching the
    * distributed walk where a null key never survives the score join. */
  private def collectIdVec(df: DataFrame, idCol: String,
                           vecCol: String): Array[(Long, Array[Float])] =
    df.select(col(idCol).cast("long"), col(vecCol))
      .where(col(idCol).isNotNull && col(vecCol).isNotNull)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  private def vecMapOf(arr: Array[(Long, Array[Float])])
      : scala.collection.mutable.LongMap[Array[Float]] = {
    val m = new scala.collection.mutable.LongMap[Array[Float]](math.max(arr.length, 1))
    arr.foreach { case (id, v) => m(id) = v }
    m
  }

  private def adjacencyOf(edges: Array[(Long, Long)])
      : scala.collection.mutable.LongMap[Array[Long]] = {
    val b = new scala.collection.mutable
      .LongMap[scala.collection.mutable.ArrayBuffer[Long]]()
    edges.foreach { case (s, d) =>
      b.getOrElseUpdate(s,
        scala.collection.mutable.ArrayBuffer.empty[Long]) += d
    }
    val out = new scala.collection.mutable.LongMap[Array[Long]](math.max(b.size, 1))
    b.foreach { case (s, ds) => out(s) = ds.toArray }
    out
  }

  /** The portable walk's round loop, driver-resident: expand-distinct →
    * visited anti-join → round-4 score → TopKBy(beam) frontier, decision
    * for decision the [[beamVisitedImpl]] loop. Mutates `visited`. Ids
    * with no vector drop exactly like the distributed score()'s inner
    * join. */
  private def localPortableRounds(
      qvec: Array[Float],
      vecMap: scala.collection.mutable.LongMap[Array[Float]],
      adj: scala.collection.mutable.LongMap[Array[Long]],
      visited: scala.collection.mutable.LongMap[Double],
      frontier0: Seq[Long], beam: Int, rounds: Int): Unit = {
    var frontier = frontier0
    var r = 0
    while (r < rounds && frontier.nonEmpty) {
      val fresh = frontier.iterator
        .flatMap(s => adj.getOrElse(s, EmptyLongArray).iterator)
        .toArray.distinct
        .filterNot(visited.contains)
      val scored = fresh.flatMap(id =>
        vecMap.get(id).map(v => (id, round4(cosDouble(qvec, v)))))
      scored.foreach { case (id, s) => visited(id) = s }
      frontier = scored.sortBy { case (id, s) => (-s, id) }
        .take(beam).map(_._1).toSeq
      r += 1
    }
  }

  /** The hierarchical cascade, driver-resident — [[hnswSearchBeams]]'s
    * under-budget tier. Entry, descent (cand = {cur} ∪ nbrs re-scored per
    * round on the round-4 grid, max by (sim, -id)), the beam-independent
    * seed, and each width's layer-0 rounds replay the distributed cascade
    * decision for decision; descent scores do NOT join the walk's visited
    * pool (the distributed visited starts at the seed). */
  private def hnswBeamsLocal(
      vecMap: scala.collection.mutable.LongMap[Array[Float]],
      layerAdj: Map[Int, scala.collection.mutable.LongMap[Array[Long]]],
      qArr: Array[(Long, Array[Float])],
      k: Int, beams: Seq[Int], rounds: Int,
      descentRounds: Int, maxLayer: Int): Seq[org.apache.spark.sql.Row] = {
    if (vecMap.isEmpty || qArr.isEmpty) return Seq.empty
    // global entry: (min(layerOf, maxLayer) desc, md5 asc, id asc) — the
    // distributed TakeOrdered's exact key
    val entryId = vecMap.keys.iterator.map { id =>
      val h = md5Hex(id.toString)
      val lv = math.min(h.takeWhile(_ == '0').length, maxLayer)
      (-lv, h, id)
    }.min(Ordering.Tuple3(Ordering.Int, Ordering.String, Ordering.Long))._3
    val adj0 = layerAdj.getOrElse(0,
      new scala.collection.mutable.LongMap[Array[Long]](1))
    qArr.toSeq.flatMap { case (qid, qvec) =>
      var cur = entryId
      for (l <- maxLayer to 1 by -1; _ <- 1 to descentRounds) {
        val nbrs = layerAdj.get(l).map(_.getOrElse(cur, EmptyLongArray))
          .getOrElse(EmptyLongArray)
        val cand = (Array(cur) ++ nbrs).distinct
        val scored = cand.flatMap(id =>
          vecMap.get(id).map(v => (id, round4(cosDouble(qvec, v)))))
        if (scored.nonEmpty)
          cur = scored.minBy { case (id, s) => (-s, id) }._1
      }
      val seedSim = round4(cosDouble(qvec, vecMap(cur)))
      beams.flatMap { b =>
        val visited = new scala.collection.mutable.LongMap[Double]()
        visited(cur) = seedSim
        localPortableRounds(qvec, vecMap, adj0, visited, Seq(cur), b, rounds)
        visited.toSeq.filter(_._1 != qid)
          .sortBy { case (id, s) => (-s, id) }.take(k)
          .zipWithIndex.map { case ((id, s), i) =>
            org.apache.spark.sql.Row(b, qid, id, s, i + 1) }
      }
    }
  }

  /** Materialize a local walk's result with the distributed output schema:
    * [beam,] queryId, corpusId, similarity, rank. */
  private def localWalkFrame(spark: org.apache.spark.sql.SparkSession,
                             rows: Seq[org.apache.spark.sql.Row],
                             idCols: Seq[String],
                             withBeam: Option[String]): DataFrame = {
    import org.apache.spark.sql.types._
    val fields = withBeam.map(StructField(_, IntegerType)).toSeq ++
      Seq(StructField(idCols.head, LongType),
        StructField(idCols(1), LongType),
        StructField("similarity", DoubleType),
        StructField("rank", IntegerType))
    spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava),
      StructType(fields))
  }
}
