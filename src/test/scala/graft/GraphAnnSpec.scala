package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{GraphAnn, SimilaritySearch}

class GraphAnnSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet(s"${TestSpark.sf}/embeddings.parquet").cache()
  private lazy val qs = emb.where(col("vec_id") < 10)
    .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")).cache()

  test("knnGraph: out-degree <= 2m, bidirectional, no self-edges, sims are exact cosines") {
    val edges = GraphAnn.knnGraph(emb, m = 4, nBits = 4, nTables = 4, dim = 64).cache()
    val maxOut = edges.groupBy(col("src")).count()
      .agg(max(col("count"))).as[Long].head()
    assert(maxOut <= 8L, s"out-degree $maxOut exceeds 2m (m chosen + reverse links)")
    assert(edges.where(col("src") === col("dst")).count() === 0L)
    // reachability: reverse links (capped at 2m, HNSW's maxM pruning) must
    // leave no node without an in-edge — an in-edge-free node can never be
    // reached by navigation
    val orphans = edges.select(col("src")).distinct()
      .join(edges.select(col("dst")).distinct()
        .withColumnRenamed("dst", "src"), Seq("src"), "left_anti")
    assert(orphans.count() === 0L, "no node may end up without in-edges")
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val mismatched = edges
      .join(vecs.select(col("vec_id").as("src"), col("embedding").as("va")), "src")
      .join(vecs.select(col("vec_id").as("dst"), col("embedding").as("vb")), "dst")
      .withColumn("want", round(
        graft.functions.VectorFunctions.cosineSimilarity(col("va"), col("vb")), 4))
      .where(col("sim") =!= col("want")).count()
    assert(mismatched === 0L, "edge sims must be the exact cosine values")
    edges.unpersist(false)
  }

  test("knnGraph is deterministic across runs and repartitioning") {
    def build(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      GraphAnn.knnGraph(df, m = 4, nBits = 4, nTables = 4, dim = 64)
        .as[(Long, Long, Double)].collect().toSet
    assert(build(emb) === build(emb.repartition(7)))
  }

  test("beam search: ranked desc per query, recall@10 over brute force clears the floor") {
    val bf = SimilaritySearch.bruteForceTopK(emb, qs, 10)
      .select(col("q_id"), col("vec_id")).as[(Long, Long)].collect().toSet
    val edges = GraphAnn.knnGraph(emb, m = 8, nBits = 4, nTables = 8, dim = 64).cache()
    edges.count()
    val res = GraphAnn.beamSearch(emb, edges, qs, k = 10, beam = 8,
      rounds = 3, nEntry = 8).cache()
    // shape contract: per-query ranks are 1..n with similarity descending
    val rows = res.select(col("q_id"), col("rank"), col("similarity"))
      .as[(Long, Int, Double)].collect().groupBy(_._1)
    rows.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to rs.length), s"q=$q ranks")
      assert(sorted.map(_._3).toSeq === sorted.map(_._3).sortBy(-(_: Double)).toSeq,
        s"q=$q similarity must be non-increasing in rank")
    }
    val got = res.select(col("q_id"), col("vec_id")).as[(Long, Long)].collect().toSet
    val recall = bf.intersect(got).size.toDouble / bf.size
    assert(recall > 0.4, s"recall=$recall")
    res.unpersist(false); edges.unpersist(false)
  }

  test("recall after deletes: stale edges over a live-only corpus still find the live top-k") {
    // tombstone-aware serving: the graph keeps edges to deleted nodes, but
    // the corpus view no longer carries their vectors — the walk can't
    // score them, so they never enter a frontier or a result set. Recall
    // against the LIVE ground truth must survive a 10% delete (dead-end
    // edges cost through-paths, not correctness).
    val edges = GraphAnn.knnGraph(emb, m = 16, nBits = 4, nTables = 8, dim = 64)
      .localCheckpoint()
    val live = emb.where(col("vec_id") % 10 =!= 3)
    val liveQs = qs.where(col("q_id") % 10 =!= 3)
    val bf = SimilaritySearch.bruteForceTopK(live, liveQs, 10)
      .select(col("q_id"), col("vec_id")).as[(Long, Long)].collect().toSet
    val got = GraphAnn.beamSearch(live, edges, liveQs, k = 10, beam = 8,
        rounds = 3, nEntry = 8)
      .select(col("q_id"), col("vec_id")).as[(Long, Long)].collect().toSet
    assert(got.forall(_._2 % 10 != 3), "a deleted node must never surface")
    val recall = bf.intersect(got).size.toDouble / bf.size
    assert(recall > 0.35, s"recall=$recall after 10% deletes")
  }

  test("persisted neighbor graph: built once, bit-identical to the in-memory build") {
    val path = java.nio.file.Files.createTempDirectory("graft_gann").toString + "/idx"
    val fresh = GraphAnn.knnGraph(emb, m = 4, nBits = 4, nTables = 4, dim = 64)
      .as[(Long, Long, Double)].collect().toSet
    val first = GraphAnn.knnGraphPersisted(emb, path, m = 4, nBits = 4, nTables = 4, dim = 64)
      .as[(Long, Long, Double)].collect().toSet
    assert(first === fresh)
    // second call must reuse the files, not rebuild: poison the corpus input —
    // a rebuild would now produce different edges, a reuse cannot
    val again = GraphAnn.knnGraphPersisted(emb.limit(10), path, m = 4, nBits = 4,
        nTables = 4, dim = 64)
      .as[(Long, Long, Double)].collect().toSet
    assert(again === fresh, "existing index must be reused, never rebuilt")
  }

  test("hnswSearchBeams: each width's slice equals the standalone single-beam search") {
    val edges = GraphAnn.hnswGraph(emb, m = 4, nBits = 4, nTables = 4,
      dim = 64, maxLayer = 2).cache()
    val multi = GraphAnn.hnswSearchBeams(emb, edges, qs, k = 10,
        beams = Seq(2, 8), rounds = 3, descentRounds = 2, maxLayer = 2)
      .as[(Int, Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4, t._5)).toSet)
      .toMap
    for (b <- Seq(2, 8)) {
      val single = GraphAnn.hnswSearch(emb, edges, qs, k = 10, beam = b,
          rounds = 3, descentRounds = 2, maxLayer = 2)
        .as[(Long, Long, Double, Int)].collect().toSet
      // the shared descent/seed and the concurrent walk threads may change
      // scheduling but never a result row
      assert(multi(b) === single, s"beam $b")
    }
  }

  test("ivfIndexPersisted: built once, round-trips ivfIndex exactly, reused not rebuilt") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfp").toString + "/idx"
    val (cFresh, aFresh) = SimilaritySearch.ivfIndex(emb, nCentroids = 8, iters = 1)
    val (cP, aP) = SimilaritySearch.ivfIndexPersisted(emb, path, nCentroids = 8, iters = 1)
    assert(cP.orderBy("centroid_id").collect().toSeq ===
      cFresh.orderBy("centroid_id").collect().toSeq)
    assert(aP.select(col("vec_id"), col("centroid_id")).as[(Long, Long)].collect().toSet ===
      aFresh.select(col("vec_id"), col("centroid_id")).as[(Long, Long)].collect().toSet)
    aFresh.unpersist()
    // reuse contract: a poisoned corpus must not trigger a rebuild
    val (cAgain, _) = SimilaritySearch.ivfIndexPersisted(emb.limit(5), path, nCentroids = 8, iters = 1)
    assert(cAgain.orderBy("centroid_id").collect().toSeq ===
      cFresh.orderBy("centroid_id").collect().toSeq,
      "existing IVF index must be reused, never rebuilt")
  }

  test("ivfIndexPersisted: a partial build (no readiness marker) is swept " +
      "and rebuilt, not served") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfr").toString + "/idx"
    // simulate a writer that died between the two table writes: centroids
    // exist (poisoned content so a wrong 'reuse' is detectable), assigned
    // and the marker do not
    emb.limit(3).select(col("vec_id").cast("long").as("centroid_id"),
        col("embedding").as("centroid"))
      .write.parquet(s"$path/centroids")
    val (cFresh, aFresh) = SimilaritySearch.ivfIndex(emb, nCentroids = 8, iters = 1)
    val (cP, aP) = SimilaritySearch.ivfIndexPersisted(emb, path, nCentroids = 8, iters = 1)
    assert(cP.orderBy("centroid_id").collect().toSeq ===
      cFresh.orderBy("centroid_id").collect().toSeq,
      "partial build must be swept and rebuilt from the corpus")
    assert(aP.select(col("vec_id"), col("centroid_id")).as[(Long, Long)].collect().toSet ===
      aFresh.select(col("vec_id"), col("centroid_id")).as[(Long, Long)].collect().toSet)
    aFresh.unpersist()
    // and the rebuild is now marked ready: a later call reuses it
    val (cAgain, _) = SimilaritySearch.ivfIndexPersisted(emb.limit(5), path, nCentroids = 8, iters = 1)
    assert(cAgain.orderBy("centroid_id").collect().toSeq ===
      cFresh.orderBy("centroid_id").collect().toSeq)
  }

  test("insertNodes: append ≡ rebuild — new nodes link bidirectionally, " +
       "degree cap holds, and recall stays within tolerance of a full rebuild") {
    val base = emb.where(col("vec_id") % 10 =!= 0)
    val fresh = emb.where(col("vec_id") % 10 === 0)
    val baseEdges = GraphAnn.knnGraph(base, m = 8, nBits = 4, nTables = 8, dim = 64)
      .localCheckpoint()
    val merged = GraphAnn.insertNodes(emb, baseEdges, fresh,
      m = 8, beam = 8, rounds = 3, nEntry = 8, nBits = 4, nTables = 8, dim = 64)
      .cache()
    // structural contracts: degree cap 2m everywhere; every inserted node
    // has out-edges AND in-edges (bidirectional linking — without in-edges
    // a new node is unreachable by navigation)
    val maxOut = merged.groupBy(col("src")).count().agg(max(col("count"))).as[Long].head()
    assert(maxOut <= 16L, s"out-degree $maxOut exceeds 2m after insert")
    val freshIds = fresh.select(col("vec_id")).as[Long].collect().toSet
    val outSrcs = merged.select(col("src")).distinct().as[Long].collect().toSet
    val inDsts = merged.select(col("dst")).distinct().as[Long].collect().toSet
    assert(freshIds.subsetOf(outSrcs), "every inserted node needs out-edges")
    assert(freshIds.subsetOf(inDsts), "every inserted node needs in-edges")
    // recall: beam-search the merged corpus on the incremental graph vs on
    // a from-scratch rebuild; the insert path may not collapse quality
    val bf = SimilaritySearch.bruteForceTopK(emb, qs, 10)
      .select(col("q_id"), col("vec_id")).as[(Long, Long)].collect().toSet
    def recallOf(edges: org.apache.spark.sql.DataFrame): Double = {
      val got = GraphAnn.beamSearch(emb, edges, qs, k = 10, beam = 8,
          rounds = 3, nEntry = 8)
        .select(col("q_id"), col("vec_id")).as[(Long, Long)].collect().toSet
      bf.intersect(got).size.toDouble / bf.size
    }
    val rebuilt = GraphAnn.knnGraph(emb, m = 8, nBits = 4, nTables = 8, dim = 64)
      .localCheckpoint()
    val rInc = recallOf(merged); val rFull = recallOf(rebuilt)
    assert(rInc >= rFull - 0.15,
      s"incremental recall $rInc must stay within 0.15 of rebuild recall $rFull")
    merged.unpersist(false)
  }

  test("hnswGraph: layer 0 is the flat knnGraph; upper layers are nested " +
       "md5-level subsets shrinking geometrically") {
    val layered = GraphAnn.hnswGraph(emb, m = 4, nBits = 4, nTables = 4,
      dim = 64, maxLayer = 2).cache()
    val flat = GraphAnn.knnGraph(emb, m = 4, nBits = 4, nTables = 4, dim = 64)
      .as[(Long, Long, Double)].collect().toSet
    val l0 = layered.where(col("layer") === 0)
      .select(col("src"), col("dst"), col("sim"))
      .as[(Long, Long, Double)].collect().toSet
    assert(l0 === flat, "layer 0 must be exactly the flat graph")
    // node sets nest: every node appearing at layer ℓ+1 appears at layer ℓ,
    // and its md5 leading-zero run must reach its layer
    def nodesAt(l: Int): Set[Long] = layered.where(col("layer") === l)
      .select(col("src")).distinct().as[Long].collect().toSet
    val (n0, n1) = (nodesAt(0), nodesAt(1))
    assert(n1.subsetOf(n0))
    val lvl = emb.select(col("vec_id"),
        GraphAnn.layerOf(col("vec_id")).as("lv"))
      .as[(Long, Int)].collect().toMap
    assert(n1.forall(lvl(_) >= 1), "layer-1 nodes need md5 level >= 1")
    // geometric thinning: p = 1/16 per level, so layer 1 should hold a
    // small fraction of layer 0 (loose bound — small-sample variance)
    assert(n1.size.toDouble / n0.size < 0.25,
      s"layer 1 kept ${n1.size}/${n0.size} nodes — not thinning")
    layered.unpersist(false)
  }

  test("hnswSearch: ranked shape holds and recall matches the flat walk's floor") {
    val layered = GraphAnn.hnswGraph(emb, m = 8, nBits = 4, nTables = 8,
      dim = 64, maxLayer = 2).localCheckpoint()
    val res = GraphAnn.hnswSearch(emb, layered, qs, k = 10, beam = 8,
      rounds = 3, descentRounds = 2, maxLayer = 2).cache()
    val rows = res.select(col("q_id"), col("rank"), col("similarity"))
      .as[(Long, Int, Double)].collect().groupBy(_._1)
    rows.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to rs.length), s"q=$q ranks")
      assert(sorted.map(_._3).toSeq === sorted.map(_._3).sortBy(-(_: Double)).toSeq,
        s"q=$q similarity must be non-increasing in rank")
    }
    val bf = SimilaritySearch.bruteForceTopK(emb, qs, 10)
      .select(col("q_id"), col("vec_id")).as[(Long, Long)].collect().toSet
    val got = res.select(col("q_id"), col("vec_id")).as[(Long, Long)].collect().toSet
    val recall = bf.intersect(got).size.toDouble / bf.size
    assert(recall > 0.4, s"hnsw recall=$recall")
    res.unpersist(false)
  }

  test("beam search never scans the corpus: visited fraction stays far below 1") {
    val edges = GraphAnn.knnGraph(emb, m = 8, nBits = 4, nTables = 8, dim = 64).cache()
    edges.count()
    val vis = GraphAnn.beamVisited(emb, edges, qs, beam = 8, rounds = 3, nEntry = 8)
    val frac = vis.count().toDouble / (qs.count().toDouble * emb.count().toDouble)
    assert(frac < 0.5, s"visited fraction $frac — the walk must stay sub-linear")
    edges.unpersist(false)
  }

  test("beamSearch: driver tier equals the distributed loop (forced budget 0)") {
    val edges = GraphAnn.knnGraph(emb, m = 8, nBits = 4, nTables = 8, dim = 64).cache()
    edges.count()
    def run(budget: Long): Set[(Long, Long, Double, Int)] =
      GraphAnn.beamSearch(emb, edges, qs, k = 10, beam = 8, rounds = 3,
          nEntry = 8, driverCorpusBudget = budget)
        .as[(Long, Long, Double, Int)].collect().toSet
    // default budget → driver-resident at fixture scale; 0 → the
    // distributed join-per-round loop. Bit-identical on the round-4 grid.
    assert(run(GraphAnn.WalkDriverCorpusBudget) === run(0L))
    edges.unpersist(false)
  }

  test("hnswSearchBeams: driver tier equals the distributed cascade (forced budget 0)") {
    val edges = GraphAnn.hnswGraph(emb, m = 4, nBits = 4, nTables = 4,
      dim = 64, maxLayer = 2).cache()
    edges.count()
    def run(budget: Long): Set[(Int, Long, Long, Double, Int)] =
      GraphAnn.hnswSearchBeams(emb, edges, qs, k = 10, beams = Seq(2, 4, 8),
          rounds = 3, descentRounds = 2, maxLayer = 2,
          driverCorpusBudget = budget)
        .as[(Int, Long, Long, Double, Int)].collect().toSet
    assert(run(GraphAnn.WalkDriverCorpusBudget) === run(0L))
    edges.unpersist(false)
  }
}
