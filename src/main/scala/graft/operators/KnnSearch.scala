package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.VectorFunctions
import graft.plans.VectorExpressions

/** The core query operator — exact vector top-k, replacing the reference's
  * RediSearch `KNN` query over an HNSW index (reference
  * `modules/utilities.py:368-401`, query string built at `:380-387`).
  *
  * The reference's HNSW search is *approximate* (recall < 1); exact
  * brute-force is a correctness superset. Two forms compute the same rows:
  *   - [[topK]], the DataFrame form: a narrow scan + `TakeOrderedAndProject`
  *     (each partition computes a partial top-k, only k rows per partition
  *     reach the driver — no shuffle, no full sort);
  *   - [[serveTopK]], the request kernel the store facade serves with: the
  *     same cosine and the same total order as one RDD job over the
  *     tenant's decoded serving rows ([[IndexTable.serving]]), planned once
  *     per view instead of once per request, and run once per view for a
  *     given query vector and k ([[ServingKernel.Exact]]).
  * With `index_alias` partition pruning (the reference's key-prefix
  * routing, `modules/utilities.py:284-287`) the scan is bounded to one
  * tenant.
  */
object KnnSearch {

  /** Q2/Q3: similarity-scored top-k. `similarity = 1 - cosine_distance`
    * (reference `modules/utilities.py:394`); ties broken by id for
    * determinism. */
  def topK(index: DataFrame, queryVec: Array[Float], k: Int,
           vecCol: String = "page_content_vector",
           tieBreak: String = "id"): DataFrame =
    index
      .withColumn("similarity",
        VectorFunctions.cosineSimilarity(col(vecCol), typedlit(queryVec)))
      .orderBy(desc("similarity"), asc(tieBreak))
      .limit(k)

  /** The hit-result schema every search surface returns (P6 result
    * projection) — ONE definition so the facade's `search`, `searchAsOf`
    * and [[Hit.toRow]] ([[hitSchema]]) cannot drift apart. */
  def hitProjection(hits: DataFrame): DataFrame =
    hits.select(col("id"), col("index_alias"), col("document_path"),
      col("page_number"), col("page_content"), col("similarity"))

  /** The schema of [[hitProjection]] over [[IndexTable]] rows. */
  val hitSchema: StructType = StructType(
    IndexTable.schema.fields.filter(f =>
      Seq("id", "index_alias", "document_path", "page_number", "page_content").contains(f.name)) :+
      StructField("similarity", DoubleType))

  /** One hit of [[serveTopK]]: a serving row's [[hitSchema]] columns.
    * `similarity` is null when the row has no vector, as the cosine
    * expression is. */
  final case class Hit(id: String, indexAlias: String, documentPath: String,
                       pageNumber: java.lang.Integer, pageContent: String,
                       similarity: java.lang.Double) {
    def toRow: Row = Row(id, indexAlias, documentPath, pageNumber, pageContent, similarity)
  }

  /** `a` before `b` in UTF-8 byte order, Spark's string order; nulls first. */
  private[graft] def compareUtf8(a: String, b: String): Int =
    if (a == null || b == null) (if (a == null) 0 else 1) - (if (b == null) 0 else 1)
    else UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))

  /** Descending by Spark's double order, nulls last. */
  private[graft] def compareDoublesDesc(a: java.lang.Double, b: java.lang.Double): Int =
    if (a == null || b == null) (if (a == null) 1 else 0) - (if (b == null) 1 else 0)
    else SQLOrderingUtil.compareDoubles(b, a)

  /** [[topK]]'s order: similarity descending (nulls last), then id. */
  private def compareHits(simA: java.lang.Double, idA: String,
                          simB: java.lang.Double, idB: String): Int = {
    val c = compareDoublesDesc(simA, simB)
    if (c != 0) c else compareUtf8(idA, idB)
  }

  val hitOrder: Ordering[Hit] = new Ordering[Hit] {
    def compare(a: Hit, b: Hit): Int = compareHits(a.similarity, a.id, b.similarity, b.id)
  }

  /** [[topK]] over serving rows as one job: the query vector is bound in
    * the task closure, each partition keeps a bounded top-k under
    * [[hitOrder]], and the driver merges at most k rows per partition.
    * Bit-identical to `hitProjection(topK(...))` over the same rows: the
    * cosine is [[VectorExpressions.cosine]], and `hitOrder` is a total
    * order on a tenant's live rows (one per id). Tombstones are skipped. */
  def serveTopK(rows: RDD[Array[ServingRow]], queryVec: Array[Float], k: Int): Seq[Hit] = {
    require(k >= 0, s"k must be non-negative, got $k")
    if (k == 0) Seq.empty
    else rows.mapPartitions { it =>
      // the worst kept hit at the head; the queue grows past its initial
      // capacity, so a huge k allocates nothing up front
      val heap = new java.util.PriorityQueue[Hit](math.min(k, 64), hitOrder.reverse)
      it.flatMap(_.iterator).filterNot(_.isDeleted).foreach { r =>
        val sim = if (r.vector == null) null
          else java.lang.Double.valueOf(VectorExpressions.cosine(r.vector, queryVec))
        // a hit leaves its vector behind: only k rows per partition travel
        if (heap.size < k || compareHits(sim, r.id, heap.peek.similarity, heap.peek.id) < 0) {
          if (heap.size == k) heap.poll()
          heap.add(Hit(r.id, r.indexAlias, r.documentPath, r.pageNumber, r.pageContent, sim))
        }
      }
      Iterator.single(heap.toArray(new Array[Hit](0)))
    }.collect().flatten.sorted(hitOrder).take(k).toSeq
  }

  /** MMR diversified re-rank (Carbonell & Goldstein, SIGIR '98): greedily
    * select k of the candidates maximizing
    * lambda * relevance - (1 - lambda) * max-similarity-to-selected.
    * The candidate GENERATION is the distributed top-k (exact or any
    * approximate tier); this greedy O(k^2) selection then runs on the
    * k-BOUNDED candidate set driver-side — the same bounded-model cadence
    * as the IVF/PQ codebook steps, never a corpus operation.
    *
    * Reproducibility contract: relevance arrives rounded to 4 and every
    * pairwise similarity is rounded to 4, then BOTH are lifted to exact
    * e4 fixed-point integers and the score is computed as
    * 10*lambda*rel_e4 - 10*(1-lambda)*maxsim_e4 (an e5 integer) — the
    * greedy compare and the output are pure integer arithmetic, so an
    * ANSI replay makes bit-identical choices (a rounded DOUBLE score sat
    * on a half-ulp boundary and flipped between engines; integers cannot).
    * `lambda` must be a multiple of 0.1 so the weights are exact ints.
    * Pairwise cosine is [[graft.plans.VectorExpressions.cosine]]: index-order
    * accumulation, dp / (sqrt(na) * sqrt(nb)), 0 on zero norm.
    * Output: (rank, vec_id, relevance, mmr_score_e5).
    */
  def mmrRerank(candidates: Seq[(Long, Array[Float], Double)], k: Int,
                lambda: Double = 0.7): Seq[(Int, Long, Double, Long)] = {
    require(k >= 1 && lambda > 0.0 && lambda <= 1.0)
    val wRel = math.round(lambda * 10).toInt
    val wDiv = 10 - wRel
    require(math.abs(lambda * 10 - wRel) < 1e-9, s"lambda must be a multiple of 0.1, got $lambda")
    def e4(x: Double): Long = math.round(
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble * 10000)
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Long)]
    val selVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    var remaining = candidates
    for (rank <- 1 to math.min(k, candidates.size)) {
      val scored = remaining.map { case (id, v, rel) =>
        val maxSimE4 = if (selVecs.isEmpty) 0L else selVecs.map(s => e4(VectorExpressions.cosine(v, s))).max
        (id, v, rel, wRel * e4(rel) - wDiv * maxSimE4)
      }
      val best = scored.minBy { case (id, _, _, sc) => (-sc, id) }
      selected += ((rank, best._1, best._3, best._4))
      selVecs += best._2
      remaining = remaining.filterNot(_._1 == best._1)
    }
    selected.toSeq
  }
}
