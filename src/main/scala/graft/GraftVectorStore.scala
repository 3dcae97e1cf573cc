package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.ModelRegistry
import graft.functions.Embedder
import graft.operators.{IndexTable, KnnSearch, Rerank, ServingKernel}

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
    // Some(candidates): binary-sketch approximate tier over the same cached
    // serving rows as exact search; `approximate = true` keeps the
    // `candidates * probeDepth` rows whose sign bits over the leading 64
    // dims are Hamming-nearest the query's, and ranks only those by exact
    // cosine (operators/BinaryQuant.serveHamming). probeDepth scales the
    // candidate pool. No persisted structure, so appends never invalidate
    // anything: the zero-maintenance approximate tier.
    binaryCandidates: Option[Int] = None,
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
  require(binaryCandidates.forall(_ >= 1),
    s"binaryCandidates must be at least 1, got ${binaryCandidates.get}")

  private def resolveAlias(alias: String): String =
    if (encryptAlias) IndexTable.encodeAlias(alias) else alias

  /** Prompt -> query vector under this store's embedding model (the
    * pluggable `embedder`, or the default murmur embedder). */
  private def queryVec(prompt: String): Array[Float] =
    embedder.map(_.query(prompt))
      .getOrElse(Embedder.embedQuery(prompt, model, seed))

  /** Idempotent index creation (D1). */
  def createIndex(): Unit = IndexTable.create(spark, indexPath)

  /** D2. */
  def indexExists(): Boolean = IndexTable.exists(spark, indexPath)

  /** D3. */
  def dropIndex(): Unit = IndexTable.drop(spark, indexPath)

  /** E1: ingest a document table (document_path, text) into a namespace. */
  def addDocuments(docs: DataFrame, alias: String,
                   pageSize: Int = operators.Chunker.DefaultPageSize): Unit = {
    createIndex()
    IndexTable.append(IndexTable.ingestRecords(docs, resolveAlias(alias), model,
      seed, pageSize, embed = embedder.map(_.docCol)), indexPath)
  }

  /** Tombstone-delete documents by path: every record (page) of each given
    * `document_path` is masked immediately and physically removed by the
    * next [[compactIndex]] + [[vacuumIndex]] (see
    * [[operators.IndexTable.deleteRecords]]).
    *
    * The ids come from the tenant's physical rows ([[IndexTable.read]]), so
    * the delete is one shuffle-free scan and resolves nothing. Every record
    * of an id carries the same path (the id is sha1 of path and page) and
    * tombstones carry none, so the only ids beyond the live ones are ids
    * whose newest record is already a tombstone: re-tombstoning them
    * changes no read. */
  def deleteDocuments(paths: Seq[String], alias: String): Unit = {
    val ids = IndexTable.read(spark, indexPath, resolveAlias(alias))
      .where(col("document_path").isin(paths: _*))
      .select(col("id"))
    IndexTable.deleteRecords(ids, indexPath, resolveAlias(alias))
  }

  /** E2 retrieval: exact cosine top-k scored chunks for a prompt.
    * Reads with HSET-upsert semantics — a re-ingested document's newest
    * record wins, duplicates never reach the top-k.
    *
    * The search runs when called, over the tenant's cached serving view
    * ([[IndexTable.serving]], into which a write's new delta files fold),
    * and returns its at most `topN` hits as a local DataFrame: reading it
    * runs no job. The first time a view is asked for a query vector and
    * `topN`, the search is one Spark job; asked again, the view's memo
    * answers with no job, until a write replaces the view (a compaction
    * keeps it). The tenant is listed on every call, so a write is seen by
    * the next search. Rows and order are those of `KnnSearch.topK` over
    * `IndexTable.readLatest`.
    *
    * `approximate = true` (requires `binaryCandidates`): the binary-sketch
    * tier over the same serving view, memoized the same way, keyed also by
    * the candidate pool ([[graft.operators.BinaryQuant.serveHamming]]). It
    * keeps the `binaryCandidates * probeDepth` rows (at least `topN`)
    * Hamming-nearest the query's sign bits and ranks only those by cosine
    * rounded to 4 places, ties on `xxhash64(id)`: the hits of
    * [[graft.operators.BinaryQuant.hammingTopK]] joined back to the rows.
    * probeDepth is the recall/cost dial, the one the reference's HNSW
    * turns with efSearch. */
  def search(prompt: String, alias: String, topN: Int = 10,
             approximate: Boolean = false, probeDepth: Int = 1): DataFrame = {
    val kernel =
      if (!approximate) ServingKernel.Exact(topN)
      else {
        require(binaryCandidates.nonEmpty,
          "approximate search requires the store to be built with binaryCandidates")
        val pool = math.min(binaryCandidates.get.toLong * math.max(1, probeDepth), Int.MaxValue)
        ServingKernel.Hamming(topN, math.max(pool.toInt, topN))
      }
    local(hits(alias, kernel, queryVec(prompt)).map(_.toRow), KnnSearch.hitSchema)
  }

  /** `kernel`'s hits for `qvec` over the tenant's serving view. */
  private def hits(alias: String, kernel: ServingKernel,
                   qvec: Array[Float]): Seq[KnnSearch.Hit] =
    IndexTable.serving(spark, indexPath, resolveAlias(alias))(_.hits(kernel, qvec))

  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

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
      val terms = prompt.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty).distinct.toSeq
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

  /** Time-travel search: exact KNN over the index exactly as it stood at a
    * committed generation (see [[IndexTable.readGeneration]]) — "what would
    * this query have answered last week". Snapshots are already
    * latest-per-id resolved at fold time, so no upsert window is applied. */
  def searchAsOf(prompt: String, alias: String, genId: Long,
                 topN: Int = 10): DataFrame = {
    val qvec = queryVec(prompt)
    val slice = IndexTable.readGeneration(spark, indexPath, resolveAlias(alias), genId)
    KnnSearch.hitProjection(KnnSearch.topK(slice, qvec, topN))
  }

  /** Store maintenance: physically apply upserts and rewrite the tenant's
    * files (see [[IndexTable.compact]]). Returns surviving row count. */
  def compactIndex(alias: String,
                   retainMillis: Long = IndexTable.DefaultRetainMillis): Long =
    IndexTable.compact(spark, indexPath, resolveAlias(alias), retainMillis)

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

  /** E2 full answer pipeline: retrieve, rerank, threshold, project answers.
    * Runs when called: the exact search of `search(prompt, alias, fanout)`
    * (one Spark job, or none when the view's memo holds its hits; the two
    * calls share memo entries), and its at most `fanout` hits are reranked
    * for this prompt on the driver ([[Rerank.answerRows]]). Returns the at
    * most `topN` answers as a local DataFrame, so reading it runs no job.
    * Rows and order are those of `Rerank.answers` over
    * `search(prompt, alias, fanout)`. */
  def answers(prompt: String, alias: String, topN: Int = 10,
              fanout: Int = 50, threshold: Int = Rerank.ScoreThreshold): DataFrame =
    local(Rerank.answerRows(hits(alias, ServingKernel.Exact(fanout), queryVec(prompt)), prompt,
      topN, threshold), Rerank.answerSchema)

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
}
