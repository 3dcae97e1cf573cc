package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftVectorStore
import graft.functions.Embedder
import graft.operators.{BinaryQuant, IndexTable, KnnSearch, Rerank}

/** One completed request and its latency. */
private final case class Done(req: Request, ms: Double, traced: Boolean)

/** Read-only serving: the reference's Q&A flow over Zipf-sized tenants of a
  * plain-layout store with the binary sketch. Closed loop, 2 clients; 70%
  * `answers` (exact retrieval, fanout 50, rerank, top 10), 30%
  * `search(approximate = true)`. Prompts and tenants are Zipf-popular, so
  * repeated (prompt, tenant) pairs exist for a cache to use. */
final class QaServe(spark: SparkSession, args: Main.Args, res: Result)
    extends Workload(spark, args, res) {
  import Stats._
  import spark.implicits._

  val NDocs = 1200
  val NTenants = 8
  val NPrompts = 256
  val Clients = 2
  val AnswersPer10 = 7
  val ExactChecks = 3
  val RecallDraws = 16
  val RecallThreads = 4

  def run(): Unit = {
    val (tenants, prompts) = phase("generate")((gen.tenants(NDocs, NTenants), gen.prompts(NPrompts)))
    phase("self-check")(selfCheck(g => Gen.digest(
      g.tenants(NDocs, NTenants).iterator.flatMap { case (a, ds) =>
        Iterator(a) ++ ds.iterator.flatMap(d => Iterator(d.path, d.text)) } ++
        g.prompts(NPrompts).iterator)))
    val aliases = tenants.map(_._1)
    val frames = tenants.map { case (a, ds) => a -> ds.map(d => (d.path, d.text)).toDF("document_path", "text") }
    val path = args.workdir.resolve("qa_store").toString
    val store = new GraftVectorStore(spark, path, model = Main.Model,
      binaryCandidates = Some(Main.BinaryCandidates))
    // set-up is done once per tenant: ingest, then compact
    phase("setup")(timedSetup(NTenants) { t =>
      val (a, df) = frames(t)
      store.addDocuments(df, a)
      store.compactIndex(a)
    })
    val pages = tenants.map(_._2.map(d => d.text.split(" ").length / Gen.PageWords + 1).sum).sum
    res.lines += s"qa_serve: ${tenants.map(_._2.size).sum} docs, $pages pages, tenants ${tenants.map(_._2.size).mkString("/")}"

    // tenant rows read back once, for the brute-force reference
    val bf = phase("read-back")(aliases.map { a =>
      a -> new BruteForce(IndexTable.readLatest(spark, path, a)
        .select("id", "document_path", "page_number", "page_content_vector").collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getSeq[Float](3).toArray)).toIndexedSeq)
    }.toMap)
    if (bf.values.map(_.ids.size).sum != pages) res.fail(s"store holds ${bf.values.map(_.ids.size).sum} pages, expected $pages")

    val knnHits = new AtomicLong; val rerankScored = new AtomicLong; val rerankKept = new AtomicLong
    val annCands = new AtomicLong; val annHits = new AtomicLong

    def answers(req: Request): Seq[Int] = {
      val (prompt, alias) = (prompts(req.prompt), aliases(req.tenant))
      if (!tracer.enabled)
        store.answers(prompt, alias, Main.TopN, Main.Fanout).select("score").collect().map(_.getInt(0)).toSeq
      else {
        val q = tracer.span("embedder.query")(Embedder.embedQuery(prompt, Main.Model))
        val slice = tracer.span("index.read_latest")(IndexTable.readLatest(spark, path, alias))
        val hitDf = KnnSearch.hitProjection(KnnSearch.topK(slice, q, Main.Fanout))
        val hits = tracer.span("knn.topk")(hitDf.collect())
        knnHits.addAndGet(hits.length)
        val scores = tracer.span("rerank")(
          Rerank.answers(spark.createDataFrame(hits.toSeq.asJava, hitDf.schema), prompt, Main.TopN)
            .select("score").collect().map(_.getInt(0)).toSeq)
        rerankScored.addAndGet(hits.length); rerankKept.addAndGet(scores.size)
        scores
      }
    }

    // the facade's ANN hits by (prompt, tenant), from every untraced request
    val annSeen = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Seq[String]]()
    def annFacade(p: Int, t: Int): Seq[String] = {
      val ids = store.search(prompts(p), aliases(t), Main.TopN, approximate = true, probeDepth = Main.ProbeDepth)
        .select("id").collect().map(_.getString(0)).toSeq
      annSeen.put((p, t), ids)
      ids
    }

    def ann(req: Request): Seq[String] = {
      val (prompt, alias) = (prompts(req.prompt), aliases(req.tenant))
      if (!tracer.enabled) annFacade(req.prompt, req.tenant)
      else {
        val q = tracer.span("embedder.query")(Embedder.embedQuery(prompt, Main.Model))
        val slice = tracer.span("index.read_latest")(IndexTable.readLatest(spark, path, alias))
        val cands = Main.BinaryCandidates * Main.ProbeDepth
        val ids = tracer.span("binaryquant.hamming_topk") {
          val nodes = slice.withColumn("__nid", xxhash64(col("id")))
          val hits = BinaryQuant.hammingTopK(nodes, Seq((-1L, q.toSeq)).toDF("q_id", "q_vec"),
            k = Main.TopN, candidates = math.max(cands, Main.TopN),
            corpusVec = "page_content_vector", corpusId = "__nid")
          KnnSearch.hitProjection(hits.join(nodes, Seq("__nid")).orderBy(col("rank")))
            .select("id").collect().map(_.getString(0)).toSeq
        }
        annCands.addAndGet(cands); annHits.addAndGet(ids.size)
        ids
      }
    }

    val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    def serve(req: Request, record: Boolean): Unit = {
      val kind = if (req.answers) "answers" else "ann"
      try {
        val (out, ms) = tracer.request(kind)(if (req.answers) Left(answers(req)) else Right(ann(req)))
        // answers: at most TopN, scores over the threshold, descending;
        // ANN: at most TopN rows, all of the queried tenant
        val ok = out match {
          case Left(scores) => Checks.answersOk(scores)
          case Right(ids) => ids.size <= Main.TopN && ids.forall(bf(aliases(req.tenant)).ids)
        }
        if (record) {
          attempt(ok, s"$kind result out of contract: $out")
          done.add(Done(req, ms, tracer.enabled))
        }
      } catch {
        case e: Exception => if (record) attempt(okay = false, s"$kind failed: $e")
      }
    }

    // The recall set: per tenant, a fixed count of draws by its traffic share
    // (at least one, about RecallDraws in all), each the next distinct prompt
    // the clients' ANN requests send to that tenant. Recall is the
    // share-weighted mean of the tenants' means, so every seed weighs big
    // and small tenants alike: the sketch's recall depends mostly on the
    // tenant's size.
    val tenantShare = (0 until NTenants).map(new Zipf(NTenants, 1.0).weight)
    val perTenant = tenantShare.map(w => math.max(1, math.round(w * RecallDraws).toInt))
    val recallSet: Seq[(Int, Int)] = {
      val anns = (0 until Clients).map(c => gen.requests(c, NPrompts, NTenants, AnswersPer10).filterNot(_.answers))
      val pairs = Iterator.continually(anns.map(_.next())).flatten.map(r => (r.prompt, r.tenant)).distinct
      val byTenant = IndexedSeq.fill(NTenants)(mutable.ArrayBuffer.empty[(Int, Int)])
      while (byTenant.indices.exists(t => byTenant(t).size < perTenant(t))) {
        val (p, t) = pairs.next()
        if (byTenant(t).size < perTenant(t)) byTenant(t) += ((p, t))
      }
      byTenant.flatten
    }

    // warm-up: JIT, codegen and file listings, untimed; its ANN request is
    // the first of the recall set
    phase("warm-up")((gen.requests(99, NPrompts, NTenants, AnswersPer10).find(_.answers) ++
      recallSet.headOption.map { case (p, t) => Request(answers = false, p, t) })
      .foreach(serve(_, record = false)))

    val streams = (0 until Clients).map(c => gen.requests(c, NPrompts, NTenants, AnswersPer10))
    val half = if (args.trace) args.seconds / 2.0 else args.seconds.toDouble
    val untracedSecs = phase("window")(closedLoop(Clients, half)(c => serve(streams(c).next(), record = true)))
    if (args.trace) {
      tracer = new Tracer(sc, enabled = true)
      phase("traced window")(closedLoop(Clients, args.seconds - half)(c => serve(streams(c).next(), record = true)))
    }
    val traced = tracer
    tracer = new Tracer(sc, enabled = false)
    val all = done.asScala.toSeq
    val plain = all.filterNot(_.traced)

    // ANN recall@10 of the facade against the exact top-10 of the same
    // tenant, over the recall set, so it does not depend on how many requests
    // the window completed. Hits the warm-up and the untraced window already
    // got are scored as they are; the draws they did not reach go through the
    // facade now, on RecallThreads threads.
    val qvec = new java.util.concurrent.ConcurrentHashMap[Int, Array[Float]]()
    def q(p: Int) = qvec.computeIfAbsent(p, p => Embedder.embedQuery(prompts(p), Main.Model))
    val recall = phase("recall") {
      val todo = new java.util.concurrent.ConcurrentLinkedQueue(recallSet.filterNot(annSeen.containsKey).asJava)
      val reached = recallSet.size - todo.size
      (0 until RecallThreads).map { _ =>
        val t = new Thread(() => Iterator.continually(todo.poll()).takeWhile(_ != null).foreach { case (p, tn) =>
          try tracer.request("ann")(annFacade(p, tn)) catch { case e: Exception => res.fail(s"recall search failed: $e") }
        })
        t.start(); t
      }.foreach(_.join())
      res.lines += s"recall set: ${recallSet.size} distinct draws, $reached scored from the warm-up and the window"
      recallSet.groupBy(_._2).toSeq.map { case (t, draws) =>
        tenantShare(t) * mean(draws.map { case (p, _) =>
          val exact = bf(aliases(t)).topK(q(p), Main.TopN).map(_._1).toSet
          val ids = Option(annSeen.get((p, t))).getOrElse(Nil)
          if (exact.isEmpty) 1.0 else ids.count(exact).toDouble / exact.size
        })
      }.sum / tenantShare.sum
    }

    // a seeded sample of exact searches against the brute-force top-k
    val r = gen.stream("exact-checks")
    phase("checks")((0 until ExactChecks).foreach { _ =>
      val (p, t) = (r.nextInt(NPrompts), r.nextInt(NTenants))
      val ok = try {
        val hits = store.search(prompts(p), aliases(t), Main.TopN).select("id", "similarity")
          .collect().map(x => (x.getString(0), x.getDouble(1))).toSeq
        Checks.exactMatches(hits, bf(aliases(t)), q(p), Main.TopN)
      } catch { case _: Exception => false }
      attempt(ok, s"exact search differs from brute force: prompt $p, ${aliases(t)}")
    })

    val ansMs = plain.filter(_.req.answers).map(_.ms)
    val annMs = plain.filterNot(_.req.answers).map(_.ms)
    res.lines += f"answers_p50_ms ${median(ansMs)}%.1f answers_p90_ms ${quantile(ansMs, 0.9)}%.1f (n=${ansMs.size})"
    res.lines += f"ann_p50_ms ${median(annMs)}%.1f ann_p90_ms ${quantile(annMs, 0.9)}%.1f (n=${annMs.size})"
    res.lines += f"ann_recall_at_10 $recall%.4f (n=${recallSet.size}) serve_qps ${plain.size / untracedSecs}%.2f"
    val ms = plain.map(_.ms)
    // latency quantiles at the nominal 7:3 mix: each kind's samples carry
    // its share of the mix, however many of each the window completed
    val atMix = plain.map(d => (d.ms,
      if (d.req.answers) AnswersPer10 / 10.0 / ansMs.size else (10 - AnswersPer10) / 10.0 / annMs.size))
    res.endToEnd("op_p50_ms") = (weightedQuantile(atMix, 0.5), "ms")
    res.endToEnd("op_p90_ms") = (weightedQuantile(atMix, 0.9), "ms")
    // closed-loop throughput at the same mix (Little's law, no think time):
    // clients over the mean request latency, each kind at its share; the
    // raw count over the window is serve_qps in the report
    val mixMeanMs = AnswersPer10 / 10.0 * mean(ansMs) + (10 - AnswersPer10) / 10.0 * mean(annMs)
    res.endToEnd("throughput_per_s") = (Clients * 1000.0 / mixMeanMs, "1/s")
    res.endToEnd("recall") = (recall, "ratio")

    if (args.trace) phase("layers") {
      org.apache.spark.BenchBridge.drain(sc)
      val l = listener.get
      val spans = traced.all
      val knnRead = spans.filter(_.name == "knn.topk").map(s => l.perSpan.get(s.id).map(_.recordsRead).getOrElse(0L)).sum
      val tracedReqs = spans.filter(_.parent == 0L).map(s => l.perReq.get(s.req).map(_.shuffleBytes.toDouble).getOrElse(0.0))
      reportLayers(traced, Map(
        "index.files_per_tenant" -> mean(aliases.map(a => parquetFiles(java.nio.file.Paths.get(path, s"index_alias=$a")).size.toDouble)),
        "index.delta_files" -> mean(aliases.map(a => IndexTable.deltaFileCount(spark, path, a).toDouble)),
        "index.shuffle_bytes_per_search" -> mean(tracedReqs),
        "index.store_bytes_per_page" -> dirBytes(java.nio.file.Paths.get(path)).toDouble / pages,
        "knn.rows_scanned_per_hit" -> knnRead.toDouble / math.max(1L, knnHits.get),
        "rerank.kept_ratio" -> rerankKept.get.toDouble / math.max(1L, rerankScored.get),
        "binaryquant.candidates_per_hit" -> annCands.get.toDouble / math.max(1L, annHits.get)),
        untracedMs = ms, tracedMs = all.filter(_.traced).map(_.ms), skewSpan = None)
    }
  }
}
