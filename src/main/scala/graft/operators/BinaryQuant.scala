package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.VectorFunctions
import graft.plans.VectorExpressions

/** Binary (sign-bit) vector quantization + Hamming-distance search — the
  * third rung of the quantization ladder (SQ8 = 4x smaller, PQ = codebook
  * compression, binary = 32x smaller) and the memory-bandwidth analogue of
  * the reference's HNSW recall/cost dial (`/root/reference/modules/
  * utilities.py:272-278`).
  *
  * A 64-dim float32 vector becomes two 32-bit words (8 bytes, 32x); Hamming
  * distance is 2 XORs + 2 popcounts — the scan becomes pure integer ALU
  * work at ~1/32 the memory traffic, which is what makes a full-corpus
  * candidate sweep affordable at 100 TB. Search is the standard two-stage
  * shape: Hamming top-`candidates` over the packed words (cheap, full
  * sweep), then exact float cosine re-rank of the candidate set only.
  *
  * Two forms compute the same hits: [[hammingTopK]], the batch DataFrame
  * operator over many queries, and [[serveHamming]], the one-query request
  * kernel the store facade serves with, one RDD job over a tenant's cached
  * serving rows ([[IndexTable.serving]]).
  *
  * Packing is a Horner fold over the sign bits (`acc*2 + bit`, high bit
  * first) — integer-exact, order-pinned, and replayable verbatim by an ANSI
  * oracle (no engine-specific shift builtins in the contract).
  */
object BinaryQuant {

  /** Big-endian Horner pack of sign bits [lo, lo+31] of `vec` (0-based dims)
    * into one long: bit for dim i is 1 iff vec(i) >= 0; a dim past the
    * vector's end is null, hence a 0 bit, with or without ANSI. Narrow,
    * codegen'd sequence/aggregate — no shuffle, no UDF. */
  def packWord(vec: Column, lo: Int): Column =
    aggregate(
      sequence(lit(lo + 31), lit(lo), lit(-1)),
      lit(0L),
      (acc, i) => acc * 2 + when(try_element_at(vec, i + 1) >= 0f, 1L).otherwise(0L))

  /** Pack a 64-dim vector into two 32-bit words (h0 = dims 0-31, h1 = dims
    * 32-63). Two words rather than one 64-bit pack so the top bit never
    * touches the sign position — every intermediate stays exact in signed
    * 64-bit arithmetic on BOTH engines (and in any downstream format that
    * lacks unsigned types). */
  def pack64(vec: Column): (Column, Column) = (packWord(vec, 0), packWord(vec, 32))

  /** Hamming distance between two packed (h0, h1) pairs. */
  def hamming(a0: Column, a1: Column, b0: Column, b1: Column): Column =
    (bit_count(a0.bitwiseXOR(b0)) + bit_count(a1.bitwiseXOR(b1))).cast("int")

  /** Two-stage binary search: Hamming top-`candidates` per query over the
    * packed corpus, then exact cosine re-rank of those candidates to
    * top-`k`.
    *
    * Stage 1 is a broadcast of the (packed) query set against the packed
    * corpus scan with the bounded-buffer TopKBy aggregate — the shuffle
    * carries <= partitions x candidates rows per query, never the scored
    * corpus. Stage 2 touches only candidates x queries rows (k-bounded), so
    * the float vectors are fetched for a sliver of the corpus — the whole
    * point of the binary sketch.
    *
    * Output: (q_id, vec_id, hamming, similarity, rank), tiebreaks
    * (similarity desc, vec_id) for rank and (hamming asc, vec_id) for the
    * candidate cut — both integer/rounded, so an oracle replays them
    * exactly. */
  def hammingTopK(corpus: DataFrame, queries: DataFrame, k: Int, candidates: Int,
                  corpusVec: String = "embedding", corpusId: String = "vec_id",
                  queryVec: String = "q_vec", queryId: String = "q_id"): DataFrame = {
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val (c0, c1) = pack64(col(corpusVec))
    val packed = Dedup.spread(corpus)
      .select(col(corpusId), col(corpusVec), c0.as("h0"), c1.as("h1"))
    val (q0, q1) = pack64(col(queryVec))
    val qPacked = queries.select(col(queryId), col(queryVec),
      q0.as("qh0"), q1.as("qh1"))

    val swept = packed.join(broadcast(qPacked.drop(queryVec)),
        col(corpusId) =!= col(queryId))
      .withColumn("hamming",
        hamming(col("h0"), col("h1"), col("qh0"), col("qh1")))
    // TopKBy keeps the k best under (score desc, id asc); negated distance
    // makes that (hamming asc, vec_id asc).
    val cand = SimilaritySearch.topKPerQuery(
        swept.withColumn("similarity", -col("hamming").cast("double")),
        candidates, queryId, corpusId)
      .select(col(queryId), col(corpusId),
        (-col("similarity")).cast("int").as("hamming"))

    val rescored = cand
      .join(packed.select(col(corpusId), col(corpusVec)), Seq(corpusId))
      .join(broadcast(qPacked.select(col(queryId), col(queryVec))), Seq(queryId))
      .withColumn("similarity",
        round(VectorFunctions.cosineSimilarity(col(corpusVec), col(queryVec)), 4))
    SimilaritySearch.topKPerQuery(
        rescored.select(col(queryId), col(corpusId), col("similarity")), k, queryId, corpusId)
      .join(cand, Seq(queryId, corpusId))
      .select(col(queryId), col(corpusId), col("hamming"), col("similarity"), col("rank"))
  }

  /** Spark's `xxhash64(id)`: the node id [[hammingTopK]] keys a store row
    * by when the facade feeds it the tenant (seed 42; a null id hashes to
    * the seed). */
  private[graft] def nodeId(id: String): Long =
    if (id == null) 42L else XXH64.hashUTF8String(UTF8String.fromString(id), 42L)

  /** [[packWord]] over a JVM vector: bit `j` is 1 iff dim `lo + j` is `>= 0`
    * in Spark's float order (so `-0.0` and NaN count as non-negative); a dim
    * past the end, or a null vector, gives 0. */
  private[graft] def packWord(vec: Array[Float], lo: Int): Long = {
    var w = 0L
    var i = lo + 31
    while (i >= lo) {
      val bit = vec != null && i < vec.length && SQLOrderingUtil.compareFloats(vec(i), 0f) >= 0
      w = w * 2 + (if (bit) 1 else 0)
      i -= 1
    }
    w
  }

  /** Spark's `round(x, 4)` on a double: HALF_UP on the shortest decimal
    * form of `x`; NaN, the infinities and null pass through. */
  private[graft] def round4(x: java.lang.Double): java.lang.Double =
    if (x == null || x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue

  /** A partition's candidate, with its hit only when it can still make the
    * top k (see [[serveHamming]]). */
  private final case class Scored(hamming: Int, nid: Long, hit: KnnSearch.Hit)

  /** (hamming asc, nid asc): the candidate cut's order. */
  private def compareSweep(ha: Int, na: Long, hb: Int, nb: Long): Int = {
    val c = Integer.compare(ha, hb)
    if (c != 0) c else java.lang.Long.compare(na, nb)
  }

  /** (similarity desc, nulls last, nid asc): the re-rank's order. */
  private val rankOrder: Ordering[Scored] = new Ordering[Scored] {
    def compare(a: Scored, b: Scored): Int = {
      val c = KnnSearch.compareDoublesDesc(a.hit.similarity, b.hit.similarity)
      if (c != 0) c else java.lang.Long.compare(a.nid, b.nid)
    }
  }

  /** One query's [[hammingTopK]] over serving rows, as one job: the
    * request kernel of the facade's approximate search. The query's two
    * words are packed on the driver and bound in the task closure with the
    * vector. Each partition keeps its `candidates` nearest rows by (hamming
    * asc, nid asc), skipping a row whose nid is -1 as the batch form's
    * `=!=` join against the facade's query id -1 does, and computes the rounded cosine for those rows
    * only. It ships (hamming, nid) for every candidate, but the hit columns
    * only for a candidate in the top `k` by (similarity desc, nid asc) of
    * the partition's candidates at or ahead of it: the global candidate set
    * holds a prefix of each partition's candidates, so no other row can make
    * the final top `k`. The driver cuts the global top `candidates` and
    * returns the top `k` of them best first. Hits, order and similarity
    * equal [[hammingTopK]]'s output joined back to the rows (a vector
    * shorter than 64 dims packs its missing dims as 0 in both). Tombstones
    * are skipped. */
  def serveHamming(rows: RDD[Array[ServingRow]], queryVec: Array[Float], k: Int,
                   candidates: Int): Seq[KnnSearch.Hit] = {
    require(k >= 0, s"k must be non-negative, got $k")
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    if (k == 0) Seq.empty
    else {
      val (q0, q1) = (packWord(queryVec, 0), packWord(queryVec, 32))
      rows.mapPartitions { it =>
        // the worst kept candidate at the head; the queue grows past its
        // initial capacity, so a huge pool allocates nothing up front
        val pool = new java.util.PriorityQueue[(Int, Long, ServingRow)](math.min(candidates, 64),
          (a, b) => compareSweep(b._1, b._2, a._1, a._2))
        it.flatMap(_.iterator).foreach { r =>
          val nid = nodeId(r.id)
          if (nid != -1L && !r.isDeleted) {
            val h = java.lang.Long.bitCount(packWord(r.vector, 0) ^ q0) +
              java.lang.Long.bitCount(packWord(r.vector, 32) ^ q1)
            if (pool.size < candidates || compareSweep(h, nid, pool.peek._1, pool.peek._2) < 0) {
              if (pool.size == candidates) pool.poll()
              pool.add((h, nid, r))
            }
          }
        }
        val swept = pool.toArray(new Array[(Int, Long, ServingRow)](0))
          .sortWith((a, b) => compareSweep(a._1, a._2, b._1, b._2) < 0)
        // the top k of the candidates walked so far, the worst at the head
        val top = new java.util.PriorityQueue[Scored](math.min(k, 64), rankOrder.reverse)
        Iterator.single(swept.map { case (h, nid, r) =>
          val sim = if (r.vector == null) null
            else round4(VectorExpressions.cosine(r.vector, queryVec))
          val s = Scored(h, nid, KnnSearch.Hit(r.id, r.indexAlias, r.documentPath,
            r.pageNumber, r.pageContent, sim))
          if (top.size < k || rankOrder.lt(s, top.peek)) {
            if (top.size == k) top.poll()
            top.add(s)
            s
          } else s.copy(hit = null)
        })
      }.collect().flatten
        .sortWith((a, b) => compareSweep(a.hamming, a.nid, b.hamming, b.nid) < 0)
        .take(candidates)
        .filter(_.hit != null)
        .sorted(rankOrder).take(k).map(_.hit).toSeq
    }
  }

  /** IVF x binary composition — the two ANN cost axes composed: IVF cell
    * pruning bounds WHICH inverted lists are scanned (file-level skipping
    * when the store is cell-partitioned), the packed Hamming sweep bounds
    * WHICH float vectors are fetched within them (byte-level skipping), and
    * the float re-rank touches only the candidate sliver. With
    * `nprobe = nCentroids` this degrades to exactly [[hammingTopK]] —
    * the hash-checked full-probe CONTRACT the gate pins (same pattern as
    * `ann_ivf_full_probe`); production dials nprobe down. */
  def ivfBinaryTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    candidates: Int, nCentroids: Int = 8, nprobe: Int = 2,
                    corpusVec: String = "embedding", corpusId: String = "vec_id",
                    queryVec: String = "q_vec", queryId: String = "q_id",
                    indexPath: Option[String] = None): DataFrame = {
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    import org.apache.spark.sql.expressions.Window
    val (centroids0, assigned) = indexPath match {
      case Some(pth) => SimilaritySearch.ivfIndexPersisted(corpus, pth,
        nCentroids, iters = 1, corpusVec, corpusId)
      case None =>
        SimilaritySearch.ivfIndex(corpus, nCentroids, iters = 1, corpusVec, corpusId)
    }
    val centroids = centroids0.cache()
    val qw = Window.partitionBy(col(queryId)).orderBy(asc("qdist"), asc("centroid_id"))
    val (q0, q1) = pack64(col(queryVec))
    val probes = queries.join(broadcast(centroids))
      .withColumn("qdist",
        graft.functions.VectorFunctions.euclideanDistance(col(queryVec), col("centroid")))
      .withColumn("rn", row_number().over(qw)) // queries x centroids rows — model-sized
      .where(col("rn") <= nprobe)
      .select(col(queryId), q0.as("qh0"), q1.as("qh1"), col("centroid_id"))
    val (c0, c1) = pack64(col(corpusVec))
    val packed = assigned.select(col("centroid_id"), col(corpusId),
      c0.as("h0"), c1.as("h1"))
    // a corpus vector lives in exactly ONE cell, so a (corpus, query) pair
    // meets at most one of the query's probe cells — no pair dedup needed
    val swept = packed.join(broadcast(probes), Seq("centroid_id"))
      .where(col(corpusId) =!= col(queryId))
      .withColumn("hamming",
        hamming(col("h0"), col("h1"), col("qh0"), col("qh1")))
    val cand = SimilaritySearch.topKPerQuery(
        swept.withColumn("similarity", -col("hamming").cast("double")),
        candidates, queryId, corpusId)
      .select(col(queryId), col(corpusId),
        (-col("similarity")).cast("int").as("hamming"))
    val rescored = cand
      .join(corpus.select(col(corpusId), col(corpusVec)), Seq(corpusId))
      .join(broadcast(queries.select(col(queryId), col(queryVec))), Seq(queryId))
      .withColumn("similarity",
        round(VectorFunctions.cosineSimilarity(col(corpusVec), col(queryVec)), 4))
    SimilaritySearch.topKPerQuery(
        rescored.select(col(queryId), col(corpusId), col("similarity")), k, queryId, corpusId)
      .join(cand, Seq(queryId, corpusId))
      .select(col(queryId), col(corpusId), col("hamming"), col("similarity"), col("rank"))
  }
}
