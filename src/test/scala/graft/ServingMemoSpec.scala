package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Embedder
import graft.operators.{IndexTable, KnnSearch, Rerank, ServingKernel}

/** The memo of a serving view: a repeated search, `answers` call or
  * approximate search runs no Spark job, and what it returns is what the
  * kernel returns over the view's rows now. Any write makes a view with an
  * empty memo; a compaction's re-keyed view keeps it. */
class ServingMemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(n: Int) = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    .select($"source".as("document_path"), $"text").limit(n)

  private val prompts = Seq("fast spark table scan query", "parquet rows read again",
    "okapi tapir pangolin")

  private val groups = new AtomicInteger

  /** Jobs started by `f` on this thread, and its value. */
  private def jobsOf[A](f: => A): (Int, A) = {
    val group = s"serving-memo-${groups.incrementAndGet()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    val value = try f finally {
      sc.clearJobGroup()
      org.apache.spark.ListenerDrain.drain(sc)
      sc.removeSparkListener(listener)
    }
    (jobs.get, value)
  }

  /** `kernel` run over the tenant's view now, past its memo. */
  private def fresh(path: String, kernel: ServingKernel, q: Array[Float]): Seq[Row] =
    IndexTable.serving(spark, path, "t")(v => kernel(v.rows, q)).map(_.toRow)

  /** The exact top `k` planned over `readLatest`, as the view never serves it. */
  private def planned(path: String, q: Array[Float], k: Int): Seq[Row] =
    KnnSearch.hitProjection(KnnSearch.topK(IndexTable.readLatest(spark, path, "t"), q, k))
      .collect().toSeq

  /** Every call of `calls` (first with `firstJobs` jobs, then repeated with
    * none) gives its kernel's hits over the view now. */
  private def assertMemoized(what: String, path: String, store: GraftVectorStore,
                             firstJobs: Int => Boolean): Unit =
    prompts.foreach { p =>
      val q = Embedder.embedQuery(p)
      val calls: Seq[(String, () => Seq[Row], Seq[Row])] = Seq(
        ("search", () => store.search(p, "t", topN = 10).collect().toSeq,
          fresh(path, ServingKernel.Exact(10), q)),
        ("answers", () => store.answers(p, "t", threshold = 0).collect().toSeq,
          Rerank.answerRows(IndexTable.serving(spark, path, "t")(v =>
            ServingKernel.Exact(50)(v.rows, q)), p, 10, 0)),
        ("approximate search",
          () => store.search(p, "t", topN = 10, approximate = true, probeDepth = 2)
            .collect().toSeq,
          fresh(path, ServingKernel.Hamming(10, 32), q)))
      calls.foreach { case (name, call, expected) =>
        val (jobs, first) = jobsOf(call())
        assert(firstJobs(jobs), s"$what: $name '$p' ran $jobs jobs")
        val (again, repeated) = jobsOf(call())
        assert(again === 0, s"$what: repeated $name '$p'")
        assert(first === expected, s"$what: $name '$p'")
        assert(repeated === expected, s"$what: repeated $name '$p'")
      }
      assert(store.search(p, "t", topN = 10).collect().toSeq === planned(path, q, 10),
        s"$what: '$p' against readLatest")
    }

  test("memoized hits equal the kernel's before and after an append, a delete and a " +
      "compaction, which keeps the memo") {
    val path = java.nio.file.Files.createTempDirectory("serving_memo").toString + "/idx"
    val store = new GraftVectorStore(spark, path, binaryCandidates = Some(16))
    store.addDocuments(docs(30), "t", pageSize = 32)
    store.compactIndex("t")
    assertMemoized("compacted", path, store, _ >= 1)
    store.addDocuments(Seq(("new/a", "fast spark table scan query okapi")).toDF(
      "document_path", "text"), "t", pageSize = 32)
    // a write makes a new view: every call runs its kernel again
    assertMemoized("after an append", path, store, _ >= 1)
    val top = store.search(prompts.head, "t", topN = 3).select($"document_path").as[String]
      .collect().toSeq
    store.deleteDocuments(top, "t")
    assertMemoized("after a delete", path, store, _ >= 1)
    assert(store.search(prompts.head, "t", topN = 10).select($"document_path").as[String]
      .collect().toSet.intersect(top.toSet).isEmpty)
    val id = IndexTable.serving(spark, path, "t")(_.rows.id)
    store.compactIndex("t", retainMillis = 0L)
    // the compaction re-keyed the view, and its memo answers as the kernel does
    assert(IndexTable.serving(spark, path, "t")(_.rows.id) === id)
    assertMemoized("after a compaction", path, store, _ === 0)
    store.dropIndex()
  }

  test("memoized hits at topN 0 and past the tenant's size") {
    val path = java.nio.file.Files.createTempDirectory("serving_memo_k").toString + "/idx"
    val store = new GraftVectorStore(spark, path, binaryCandidates = Some(16))
    store.addDocuments(docs(10), "t", pageSize = 32)
    store.compactIndex("t")
    val size = IndexTable.readLatest(spark, path, "t").count().toInt
    val q = Embedder.embedQuery(prompts.head)
    Seq(0, size + 7).foreach { k =>
      val exact = store.search(prompts.head, "t", topN = k).collect().toSeq
      val approximate = store.search(prompts.head, "t", topN = k, approximate = true)
        .collect().toSeq
      val answers = store.answers(prompts.head, "t", topN = k, fanout = k, threshold = 0)
        .collect().toSeq
      val (jobs, repeated) = jobsOf((
        store.search(prompts.head, "t", topN = k).collect().toSeq,
        store.search(prompts.head, "t", topN = k, approximate = true).collect().toSeq,
        store.answers(prompts.head, "t", topN = k, fanout = k, threshold = 0).collect().toSeq))
      assert(jobs === 0, s"topN $k")
      assert(repeated === ((exact, approximate, answers)), s"topN $k")
      assert(exact.size === math.min(k, size))
      assert(exact === planned(path, q, k), s"topN $k")
      assert(approximate === fresh(path, ServingKernel.Hamming(k, math.max(16, k)), q))
      assert(answers.size === math.min(k, size))
    }
    store.dropIndex()
  }

  test("two store instances whose embedders differ share one view but not its hits") {
    val path = java.nio.file.Files.createTempDirectory("serving_memo_embed").toString + "/idx"
    val plain = new GraftVectorStore(spark, path)
    plain.addDocuments(docs(20), "t", pageSize = 32)
    plain.compactIndex("t")
    // the same prompt, the opposite query vector
    val negated = new GraftVectorStore(spark, path, embedder = Some(GraftVectorStore.Embedding(
      c => Embedder.embedCol(c), p => Embedder.embedQuery(p).map(-_))))
    val id = IndexTable.serving(spark, path, "t")(_.rows.id)
    // prompts whose words the pages hold, so no two hits tie at 0
    Seq("fast spark table scan query", "slow hash join window", "customer order line").foreach {
        p =>
      val q = Embedder.embedQuery(p)
      val first = plain.search(p, "t", topN = 5).collect().toSeq
      val other = negated.search(p, "t", topN = 5).collect().toSeq
      assert(other !== first, p)
      assert(first === planned(path, q, 5), p)
      assert(other === planned(path, q.map(-_), 5), p)
      assert(plain.search(p, "t", topN = 5).collect().toSeq === first, p)
      assert(negated.search(p, "t", topN = 5).collect().toSeq === other, p)
      assert(negated.answers(p, "t", threshold = 0).collect().toSeq === Rerank.answerRows(
        IndexTable.serving(spark, path, "t")(v => ServingKernel.Exact(50)(v.rows, q.map(-_))),
        p, 10, 0), p)
    }
    assert(IndexTable.serving(spark, path, "t")(_.rows.id) === id)
    plain.dropIndex()
  }

  test("a view's memo holds at most MemoHits hits and evicts the least recently used") {
    val path = java.nio.file.Files.createTempDirectory("serving_memo_bound").toString + "/idx"
    val store = new GraftVectorStore(spark, path)
    store.addDocuments(docs(20), "t", pageSize = 32)
    store.compactIndex("t")
    val size = IndexTable.readLatest(spark, path, "t").count().toInt
    // each request holds every row of the tenant
    val kernel = ServingKernel.Exact(size)
    val fit = IndexTable.MemoHits / size
    val rng = new scala.util.Random(3)
    val dims = Embedder.embedQuery(prompts.head).length
    val queries = (0 to fit).map(_ => Array.fill(dims)(rng.nextGaussian().toFloat))
    def ask(i: Int): (Int, Seq[KnnSearch.Hit]) =
      jobsOf(IndexTable.serving(spark, path, "t")(_.hits(kernel, queries(i))))
    def held: Int = IndexTable.serving(spark, path, "t")(_.memo.size)
    (0 until fit).foreach(i => assert(ask(i)._1 === 1, s"query $i"))
    assert(held === fit * size)
    // query 0 is used again, so query 1 is the least recently used
    assert(ask(0)._1 === 0)
    val (jobs, hits) = ask(fit)
    assert(jobs === 1)
    assert(held === fit * size)
    assert(held <= IndexTable.MemoHits)
    assert(hits.map(_.toRow) === planned(path, queries(fit), size))
    assert(ask(0)._1 === 0)
    assert(ask(fit)._1 === 0)
    assert(ask(1)._1 === 1, "the least recently used request was not evicted")
    assert(held <= IndexTable.MemoHits)
    store.dropIndex()
  }
}
