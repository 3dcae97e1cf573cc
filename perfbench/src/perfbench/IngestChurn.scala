package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftVectorStore
import graft.functions.{Embedder, TextFunctions}
import graft.operators.{Chunker, IndexTable, KnnSearch}

/** Writes beside reads, closed loop with 1 client. Each round compacts the
  * previous round's deltas, appends new docs, re-ingests edited existing docs
  * (upserts), tombstone-deletes a few, then runs exact searches while those
  * deltas are pending, so `readLatest` takes its delta-resolution path. Every
  * search sees exactly one round of deltas, whatever the round count.
  * Edits substitute words but keep each doc's word count: the store upserts
  * per (path, page) key, so a doc that shrank would keep its old tail pages,
  * as the reference's HSET-per-page store does. */
final class IngestChurn(spark: SparkSession, args: Main.Args, res: Result)
    extends Workload(spark, args, res) {
  import Stats._
  import spark.implicits._

  val Alias = "churn"
  val BaseDocs = 600
  /** Every churn doc has 3 pages, so every round writes the same page count
    * and the ingest rate does not vary with the seed's length draws. */
  val DocPages = 3
  val NPrompts = 256
  val AppendPerRound = 16
  val UpsertPerRound = 16
  val DeletePerRound = 4
  val SearchesPerRound = 6
  val SetupReps = 3

  private def pagesOf(d: Doc): IndexedSeq[String] =
    d.text.split(" ").grouped(Gen.PageWords).map(_.mkString(" ")).toIndexedSeq

  def run(): Unit = {
    val base = gen.tenant(Alias, BaseDocs, DocPages)
    val prompts = gen.prompts(NPrompts)
    phase("self-check")(selfCheck(g => Gen.digest(g.tenant(Alias, BaseDocs, DocPages).iterator.flatMap(d => Iterator(d.path, d.text)) ++
      g.prompts(NPrompts).iterator)))
    def frame(ds: Seq[Doc]): DataFrame = ds.map(d => (d.path, d.text)).toDF("document_path", "text")
    val baseDf = frame(base)
    // set-up: the compacted tenant is built SetupReps times, in fresh stores;
    // the last one is used
    var path = ""
    var store: GraftVectorStore = null
    phase("setup")(timedSetup(SetupReps) { i =>
      path = args.workdir.resolve(s"churn_store_$i").toString
      store = new GraftVectorStore(spark, path, model = Main.Model)
      store.addDocuments(baseDf, Alias)
      store.compactIndex(Alias)
    })
    val tenantDir = Paths.get(path, s"index_alias=$Alias")

    // the benchmark's model of the live tenant
    val live = mutable.LinkedHashMap.empty[String, Doc] ++ base.map(d => d.path -> d)
    val deleted = mutable.Set.empty[String]
    val rng = gen.stream("churn")
    val promptZipf = new Zipf(NPrompts, 1.0)

    val searchMs = mutable.ArrayBuffer.empty[(Double, Boolean)]
    // ingest rate and compaction time of the facade: untraced rounds only
    var ingestPages = 0L; var ingestSecs = 0.0
    var chunkPages = 0L; var chunkDocs = 0L
    val compactMs = mutable.ArrayBuffer.empty[Double]
    val recalls = mutable.ArrayBuffer.empty[Double]
    /** The searches of the latest round: (prompt, hits). */
    val lastRound = mutable.ArrayBuffer.empty[(String, Seq[(String, String, Int, String, Double)])]
    val files = mutable.ArrayBuffer.empty[Double]; val deltas = mutable.ArrayBuffer.empty[Double]
    var embedPages = 0L; var embedSecs = 0.0; var tracedHits = 0L

    def ingest(docs: Seq[Doc]): Unit = {
      val df = frame(docs)
      val pages = docs.map(pagesOf(_).size).sum
      val (_, ms) = tracer.request("ingest") {
        if (!tracer.enabled) store.addDocuments(df, Alias)
        else {
          val recs = tracer.span("index.ingest_records")(IndexTable.ingestRecords(df, Alias, Main.Model).localCheckpoint())
          // the chunker and embedder run fused inside the records plan; each
          // is timed alone on the same input
          tracer.span("chunker")(Chunker.chunk(df, "text").agg(sum(length(col("page_content")))).collect())
          val t0 = System.nanoTime()
          tracer.span("embedder.doc")(recs.select(sum(size(Embedder.embedCol(
            TextFunctions.cleanseText(col("page_content")), Main.Model)))).collect())
          embedSecs += (System.nanoTime() - t0) / 1e9; embedPages += pages
          tracer.span("index.append")(IndexTable.append(recs, path))
        }
      }
      if (!tracer.enabled) { ingestPages += pages; ingestSecs += ms / 1e3 }
      chunkPages += pages; chunkDocs += docs.size
    }

    def delete(paths: Seq[String]): Unit = tracer.request("delete") {
      if (!tracer.enabled) store.deleteDocuments(paths, Alias)
      else tracer.span("index.delete") {
        IndexTable.deleteRecords(IndexTable.readLatest(spark, path, Alias)
          .where(col("document_path").isin(paths: _*)).select(col("id")), path, Alias)
      }
    }

    def compact(): Unit = {
      val (_, ms) = tracer.request("compact") {
        if (!tracer.enabled) store.compactIndex(Alias)
        else tracer.span("index.compact")(IndexTable.compact(spark, path, Alias))
      }
      if (!tracer.enabled) compactMs += ms
    }

    /** One exact search: (id, path, page, content, similarity) rows. */
    def search(prompt: String): (Seq[(String, String, Int, String, Double)], Double) =
      tracer.request("search") {
        val rows = if (!tracer.enabled) store.search(prompt, Alias, Main.TopN)
        else {
          val q = tracer.span("embedder.query")(Embedder.embedQuery(prompt, Main.Model))
          val slice = tracer.span("index.read_latest")(IndexTable.readLatest(spark, path, Alias))
          KnnSearch.hitProjection(KnnSearch.topK(slice, q, Main.TopN))
        }
        tracer.span("knn.topk")(rows.select("id", "document_path", "page_number", "page_content", "similarity")
          .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3), r.getDouble(4))).toSeq)
      }

    /** Hits never show a deleted doc and show each doc's newest content. */
    def hitsCurrent(hits: Seq[(String, String, Int, String, Double)]): Boolean =
      hits.forall { case (_, p, pg, content, _) =>
        !deleted(p) && live.get(p).exists(d => pagesOf(d).lift(pg).contains(content))
      }

    phase("warm-up")(search(prompts(0)))

    val t0 = System.nanoTime()
    val deadline = t0 + args.seconds * 1000000000L
    val traceFrom = t0 + (if (args.trace) args.seconds * 500000000L else Long.MaxValue)
    var round = 0
    // rounds start until the deadline; a traced run also starts rounds until
    // it has one traced round (the second half begins at a round boundary)
    phase("window")(while (System.nanoTime() < deadline || (args.trace && !tracer.enabled)) {
      if (args.trace && !tracer.enabled && System.nanoTime() >= traceFrom) tracer = new Tracer(sc, enabled = true)
      if (round > 0) {
        try { compact(); attempt(okay = true, "") }
        catch { case e: Exception => attempt(okay = false, s"compaction failed: $e") }
      }
      val fresh = (0 until AppendPerRound).map(j => gen.doc(rng, s"$Alias/new${round}_$j.docx", DocPages))
      val keys = live.keys.toIndexedSeq
      val picked = mutable.LinkedHashSet.empty[String]
      while (picked.size < UpsertPerRound + DeletePerRound) picked += keys(rng.nextInt(keys.size))
      val edits = picked.take(UpsertPerRound).toSeq.map(p => gen.edit(rng, live(p), Gen.CopyEdit, round.toString))
      val dels = picked.drop(UpsertPerRound).toSeq
      try {
        ingest(fresh ++ edits)
        (fresh ++ edits).foreach(d => live(d.path) = d)
        delete(dels)
        dels.foreach { p => live.remove(p); deleted += p }
        attempt(okay = true, "")
      } catch { case e: Exception => attempt(okay = false, s"write round $round failed: $e") }
      if (tracer.enabled) {
        files += parquetFiles(tenantDir).size.toDouble
        deltas += IndexTable.deltaFileCount(spark, path, Alias).toDouble
      }
      // after its first search a round's searches stop at the end of its
      // half (traced run) or at the deadline, so the window overshoots by at
      // most one compaction, one write and one search
      val stopAt = if (args.trace && !tracer.enabled) traceFrom else deadline
      var s = 0
      lastRound.clear()
      while (s < SearchesPerRound && (s == 0 || System.nanoTime() < stopAt)) {
        s += 1
        try {
          val prompt = prompts(promptZipf.sample(rng))
          val (hits, ms) = search(prompt)
          lastRound += ((prompt, hits))
          searchMs += ((ms, tracer.enabled))
          if (tracer.enabled) tracedHits += hits.size
          attempt(hitsCurrent(hits), s"search in round $round showed deleted or stale content")
        } catch { case e: Exception => attempt(okay = false, s"search in round $round failed: $e") }
      }
      round += 1
    })
    val traced = tracer
    tracer = new Tracer(sc, enabled = false)

    // With the last round's deltas still pending: the tenant read back from
    // the store holds exactly the live pages, and every search of the last
    // round, which saw this same state, matches brute force over it.
    phase("checks") {
      val back = IndexTable.readLatest(spark, path, Alias)
        .select("id", "document_path", "page_number", "page_content", "page_content_vector").collect()
      attempt(back.length == live.valuesIterator.map(pagesOf(_).size).sum && back.forall(r =>
        live.get(r.getString(1)).exists(d => pagesOf(d).lift(r.getInt(2)).contains(r.getString(3)))),
        "the tenant read back differs from the live docs")
      val bf = new BruteForce(back.map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getSeq[Float](4).toArray)).toIndexedSeq)
      lastRound.foreach { case (prompt, hits) =>
        val q = Embedder.embedQuery(prompt, Main.Model)
        val exact = bf.topK(q, Main.TopN).map(_._1).toSet
        recalls += (if (exact.isEmpty) 1.0 else hits.count(h => exact(h._1)).toDouble / exact.size)
        attempt(Checks.exactMatches(hits.map(h => (h._1, h._5)), bf, q, Main.TopN),
          s"exact search differs from brute force: $prompt")
      }
    }
    phase("final compaction")(compact())
    val livePages = live.valuesIterator.map(pagesOf(_).size).sum
    val storeBytes = dirBytes(tenantDir).toDouble / livePages

    val plain = searchMs.filterNot(_._2).map(_._1).toSeq
    res.lines += f"ingest_churn: $round rounds, ${live.size} live docs, $livePages live pages"
    res.lines += f"search_p50_ms ${median(plain)}%.1f search_p90_ms ${quantile(plain, 0.9)}%.1f (n=${plain.size})"
    res.lines += f"ingest_pages_per_s ${ingestPages / ingestSecs}%.1f ($ingestPages pages) compact_s ${median(compactMs.toSeq) / 1e3}%.3f (n=${compactMs.size}) store_bytes_per_page $storeBytes%.0f"
    res.endToEnd("op_p50_ms") = (median(plain), "ms")
    res.endToEnd("op_p90_ms") = (quantile(plain, 0.9), "ms")
    res.endToEnd("throughput_per_s") = (ingestPages / ingestSecs, "1/s")
    res.endToEnd("recall") = (mean(recalls.toSeq), "ratio")

    if (args.trace) phase("layers") {
      org.apache.spark.BenchBridge.drain(sc)
      val l = listener.get
      val spans = traced.all
      def written(n: String) = spans.filter(_.name == n).map(s => l.perSpan.get(s.id).map(_.bytesWritten).getOrElse(0L)).sum
      def readRows(n: String) = spans.filter(_.name == n).map(s => l.perSpan.get(s.id).map(_.recordsRead).getOrElse(0L)).sum
      val searches = spans.filter(s => s.parent == 0L && s.name == "search")
      reportLayers(traced, Map(
        "embedder.doc_pages_per_s" -> (if (embedSecs > 0) embedPages / embedSecs else 0.0),
        "chunker.pages_per_doc" -> chunkPages.toDouble / math.max(1L, chunkDocs),
        "index.files_per_tenant" -> mean(files.toSeq),
        "index.delta_files" -> mean(deltas.toSeq),
        "index.shuffle_bytes_per_search" -> mean(searches.map(s => l.perReq.get(s.req).map(_.shuffleBytes.toDouble).getOrElse(0.0))),
        "index.bytes_written_per_page" -> written("index.append").toDouble / math.max(1L, embedPages),
        "index.bytes_rewritten_per_compact" -> written("index.compact").toDouble / math.max(1, spans.count(_.name == "index.compact")),
        "index.store_bytes_per_page" -> storeBytes,
        "knn.rows_scanned_per_hit" -> readRows("knn.topk").toDouble / math.max(1L, tracedHits)),
        untracedMs = plain, tracedMs = searchMs.filter(_._2).map(_._1).toSeq, skewSpan = None)
    }
  }
}
