package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

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
  * Packing is a Horner fold over the sign bits (`acc*2 + bit`, high bit
  * first) — integer-exact, order-pinned, and replayable verbatim by an ANSI
  * oracle (no engine-specific shift builtins in the contract).
  */
object BinaryQuant {

  /** Big-endian Horner pack of sign bits [lo, lo+31] of `vec` (0-based dims)
    * into one long: bit for dim i is 1 iff vec(i) >= 0. Narrow, codegen'd
    * sequence/aggregate — no shuffle, no UDF. */
  def packWord(vec: Column, lo: Int): Column =
    aggregate(
      sequence(lit(lo + 31), lit(lo), lit(-1)),
      lit(0L),
      (acc, i) => acc * 2 + when(element_at(vec, i + 1) >= 0f, 1L).otherwise(0L))

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

  /** One query's [[hammingTopK]] as two narrow scans of `corpus` — the
    * serving shape, where the batch operator's spread, grouped top-k and
    * join-back cost more than the work itself:
    *  1. TakeOrdered of the `candidates` nearest ids by (hamming asc, id
    *     asc), collected to the driver (a `candidates`-long id list);
    *  2. `id IN (candidates)`, exact cosine rounded to 4 on those rows only,
    *     TakeOrdered top-`k` by (similarity desc, id asc), projecting the
    *     corpus columns directly.
    * No exchange, no aggregate, no join: two jobs per query. Both cuts use
    * [[hammingTopK]]'s keys, and a corpus id equal to `queryId` is excluded
    * as its `=!=` join does, so the hits equal [[hammingTopK]]'s output
    * joined back to the corpus, order included — provided `corpus` reads
    * the same rows in both scans (a frozen file set).
    *
    * Output: `corpus`'s columns plus `similarity`, best first. */
  def hammingSearch(corpus: DataFrame, queryVec: Array[Float], k: Int, candidates: Int,
                    corpusVec: String = "embedding", corpusId: String = "vec_id",
                    queryId: Long = -1L): DataFrame = {
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    // the query's words are packed once on the driver (a one-row local
    // relation runs no job), not re-packed next to every corpus row
    val (p0, p1) = pack64(col("_1"))
    val qw = corpus.sparkSession.createDataFrame(Seq(Tuple1(queryVec.toSeq)))
      .select(p0, p1).head()
    val (c0, c1) = pack64(col(corpusVec))
    val cand = corpus.where(col(corpusId) =!= queryId)
      .select(col(corpusId).cast("long").as("__cand"),
        hamming(c0, c1, lit(qw.getLong(0)), lit(qw.getLong(1))).as("__hamming"))
      .orderBy(asc("__hamming"), asc("__cand"))
      .limit(candidates)
      .collect().map(_.getLong(0))
    corpus.where(col(corpusId).isin(cand.toSeq: _*))
      .withColumn("similarity",
        round(VectorFunctions.cosineSimilarity(col(corpusVec), typedlit(queryVec)), 4))
      .orderBy(desc("similarity"), asc(corpusId))
      .limit(k)
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
