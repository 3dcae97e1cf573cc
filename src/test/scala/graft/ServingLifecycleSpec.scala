package graft

import java.util.concurrent.{ConcurrentHashMap, CyclicBarrier, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IndexTable

/** The cached serving rows behind `search` and `answers` hold memory while
  * their file set is current and no longer: one persisted serving RDD per
  * tenant at most, released when a write replaces it and when the index is
  * dropped — and built once even when two threads make the first search of
  * a new file set together. A view folded from its predecessor keeps a
  * lineage of constant depth. Exact and approximate searches share them. */
class ServingLifecycleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(n: Int) = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    .select($"source".as("document_path"), $"text").limit(n)

  /** Persisted serving RDDs of one tenant of the index at `path`. */
  private def servingRdds(path: String, alias: String): Int =
    spark.sparkContext.getPersistentRDDs.values
      .count(r => r.name == s"serving $path/index_alias=$alias")

  test("20 write-then-search cycles keep at most one persisted serving RDD per tenant; " +
      "dropIndex releases them") {
    val path = java.nio.file.Files.createTempDirectory("serving_cycles").toString + "/idx"
    val store = new GraftVectorStore(spark, path)
    store.addDocuments(docs(20), "t", pageSize = 32)
    store.addDocuments(docs(5), "u", pageSize = 32)
    store.compactIndex("t")
    (1 to 20).foreach { i =>
      val doc = s"cycle/$i"
      store.addDocuments(Seq((doc, s"cycle $i spark table scan")).toDF("document_path", "text"),
        "t", pageSize = 32)
      val hits = store.search(s"cycle $i spark table scan", "t", topN = 3)
        .select($"document_path").as[String].collect()
      assert(hits.head === doc, s"cycle $i")
      store.answers("spark table scan", "u", threshold = 0).collect()
      if (i % 5 == 0) store.compactIndex("t")
      assert(servingRdds(path, "t") === 1, s"after cycle $i")
      assert(servingRdds(path, "u") === 1, s"after cycle $i")
    }
    store.dropIndex()
    assert(servingRdds(path, "t") === 0)
    assert(servingRdds(path, "u") === 0)
  }

  /** A store whose serving views a sweep freed (as a harness that
    * unpersists every RDD between queries does) serves the same hits as a
    * fresh store over a copy of the index: a freed view counts as absent,
    * with deltas pending, after an append and after a compaction alike. */
  private def searchAfterSweeps(dir: String, sweep: org.apache.spark.rdd.RDD[_] => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory(dir).toString
    val path = s"$root/idx"
    val store = new GraftVectorStore(spark, path)
    // only this test's RDDs: other suites' persisted data stays
    val earlier = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def sweepAll(): Unit = spark.sparkContext.getPersistentRDDs.values
      .filterNot(r => earlier(r.id)).foreach(sweep)
    val prompt = "fast spark table scan query"
    def hits(s: GraftVectorStore) = s.search(prompt, "t", topN = 10).collect().toSeq
    def freshHits(step: Int) = {
      val copy = s"$root/copy$step"
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(path), new java.io.File(copy))
      val fresh = new GraftVectorStore(spark, copy)
      try hits(fresh) finally fresh.dropIndex()
    }
    store.addDocuments(docs(20), "t", pageSize = 32)
    store.compactIndex("t")
    store.addDocuments(Seq(("sweep/1", "fast spark table scan")).toDF("document_path", "text"),
      "t", pageSize = 32)
    hits(store)
    sweepAll()
    assert(hits(store) === freshHits(1), "deltas pending")
    sweepAll()
    store.addDocuments(Seq(("sweep/2", "spark table scan query")).toDF("document_path", "text"),
      "t", pageSize = 32)
    assert(hits(store) === freshHits(2), "after an append")
    sweepAll()
    store.compactIndex("t")
    val afterCompact = hits(store)
    assert(afterCompact === freshHits(3), "after a compaction")
    assert(afterCompact.nonEmpty)
    assert(servingRdds(path, "t") === 1)
    store.dropIndex()
    assert(servingRdds(path, "t") === 0)
  }

  test("a serving view freed by RDD.unpersist is rebuilt, not served") {
    searchAfterSweeps("serving_swept", _.unpersist(false))
  }

  test("a serving view freed by SparkContext.unpersistRDD is rebuilt, not served") {
    searchAfterSweeps("serving_swept_ctx",
      org.apache.spark.sql.graftbridge.StorageBridge.release)
  }

  /** Lineage depth of an RDD: 1 for one without dependencies. */
  private def depth(rdd: org.apache.spark.rdd.RDD[_]): Int =
    1 + (rdd.dependencies.map(d => depth(d.rdd)) :+ 0).max

  test("50 write-then-search cycles with a compaction every 7th keep one persisted " +
      "serving RDD per tenant and a lineage depth that does not grow") {
    val path = java.nio.file.Files.createTempDirectory("serving_folds").toString + "/idx"
    val store = new GraftVectorStore(spark, path)
    store.addDocuments(docs(20), "t", pageSize = 32)
    store.compactIndex("t")
    val depths = (1 to 50).map { i =>
      val doc = s"fold/$i"
      val text = s"fold $i okapi tapir pangolin scan"
      store.addDocuments(Seq((doc, text)).toDF("document_path", "text"), "t", pageSize = 32)
      if (i % 4 == 0) store.deleteDocuments(Seq(s"fold/${i - 1}"), "t")
      // the embedder's hashed features may tie two of these texts
      val hits = store.search(text, "t", topN = 5).select($"document_path").as[String]
        .collect()
      assert(hits.contains(doc), s"cycle $i")
      if (i % 4 == 0) assert(!store.search(s"fold ${i - 1} okapi tapir pangolin scan", "t",
        topN = 5).select($"document_path").as[String].collect().contains(s"fold/${i - 1}"))
      // zero retention: the compaction deletes the files the view was read from
      if (i % 7 == 0) store.compactIndex("t", retainMillis = 0L)
      assert(servingRdds(path, "t") === 1, s"after cycle $i")
      IndexTable.serving(spark, path, "t")(v => depth(v.rows))
    }
    // a filled view's lineage is its local checkpoint
    assert(depths.toSet === Set(2), depths)
    store.dropIndex()
    assert(servingRdds(path, "t") === 0)
  }

  /** Two threads make the first search of a new file set together: both
    * get the same hits, the jobs of the race read one serving RDD besides
    * the one it replaces (which the fold reads), and one stays persisted
    * until the index is dropped. */
  private def raceFirstSearch(dir: String, approximate: Boolean): Unit = {
    val path = java.nio.file.Files.createTempDirectory(dir).toString + "/idx"
    val store = new GraftVectorStore(spark, path, binaryCandidates = Some(16))
    store.addDocuments(docs(20), "t", pageSize = 32)
    store.compactIndex("t")
    store.search("spark", "t", approximate = approximate).collect()
    store.addDocuments(docs(5).withColumn("text", org.apache.spark.sql.functions.upper($"text")),
      "t", pageSize = 32)
    val name = s"serving $path/index_alias=t"
    val replaced = spark.sparkContext.getPersistentRDDs.values.filter(_.name == name)
      .map(_.id).toSet
    // the serving RDDs every job of the race reads
    val read = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.flatMap(_.rddInfos).filter(_.name == name).foreach(r => read.add(r.id))
    }
    spark.sparkContext.addSparkListener(listener)
    val pool = Executors.newFixedThreadPool(2)
    val results = try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val barrier = new CyclicBarrier(2)
      val searches = Seq.fill(2)(Future {
        barrier.await(30, TimeUnit.SECONDS)
        store.search("fast spark table scan query", "t", approximate = approximate)
          .collect().toSeq
      })
      Await.result(Future.sequence(searches), 2.minutes)
    } finally {
      pool.shutdown()
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(results.head === results.last)
    assert(results.head.nonEmpty)
    assert(replaced.size === 1)
    assert((read.asScala.toSet -- replaced).size === 1)
    assert(servingRdds(path, "t") === 1)
    store.dropIndex()
    assert(servingRdds(path, "t") === 0)
  }

  test("two threads making the first search of a new file set together build it once") {
    raceFirstSearch("serving_race", approximate = false)
  }

  test("two threads making the first approximate search of a new file set together " +
      "build it once") {
    raceFirstSearch("serving_race_ann", approximate = true)
  }

  test("approximate and exact searches over one tenant share its one persisted " +
      "serving RDD") {
    val path = java.nio.file.Files.createTempDirectory("serving_shared").toString + "/idx"
    val store = new GraftVectorStore(spark, path, binaryCandidates = Some(16))
    store.addDocuments(docs(20), "t", pageSize = 32)
    store.compactIndex("t")
    (1 to 6).foreach { i =>
      val doc = s"shared/$i"
      val text = s"shared $i okapi tapir pangolin"
      // the approximate search first, on odd cycles: either tier may fill it
      val tiers = if (i % 2 == 1) Seq(true, false) else Seq(false, true)
      store.addDocuments(Seq((doc, text)).toDF("document_path", "text"), "t", pageSize = 32)
      tiers.foreach { approximate =>
        val hits = store.search(text, "t", topN = 3, approximate = approximate)
          .select($"document_path").as[String].collect()
        assert(hits.head === doc, s"cycle $i, approximate = $approximate")
        assert(servingRdds(path, "t") === 1, s"cycle $i, approximate = $approximate")
      }
      store.answers("okapi tapir", "t", threshold = 0).collect()
      if (i % 3 == 0) store.compactIndex("t")
      assert(servingRdds(path, "t") === 1, s"after cycle $i")
    }
    store.dropIndex()
    assert(servingRdds(path, "t") === 0)
  }
}
