package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IndexTable

/** The resolved delta overlay behind `readLatest` holds memory while its
  * file set is current and no longer: one persisted overlay per tenant at
  * most, released when it is replaced, when the tenant reads clean, and
  * when the index is dropped — and resolved once even when two threads ask
  * for a new file set together. */
class OverlayLifecycleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(n: Int) = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    .select($"source".as("document_path"), $"text").limit(n)

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** (path, page, content) of the tenant's latest rows, resolved on the
    * driver from the physical rows: newest stamp, then tombstone, then
    * content ascending. */
  private def expectedLatest(path: String): Seq[(String, Int, String)] =
    IndexTable.read(spark, path, "t")
      .select($"id", $"ingest_seq", coalesce($"is_deleted", lit(false)),
        $"document_path", $"page_number", $"page_content")
      .as[(String, Long, Boolean, String, Option[Int], String)].collect().toSeq
      .groupBy(_._1).values
      .map(_.sortBy(r => (-r._2, !r._3, Option(r._6).getOrElse(""))).head)
      .collect { case (_, _, false, p, Some(n), c) => (p, n, c) }
      .toSeq.sorted

  private def served(path: String): Seq[(String, Int, String)] =
    IndexTable.readLatest(spark, path, "t")
      .select($"document_path", $"page_number", $"page_content")
      .as[(String, Int, String)].collect().toSeq.sorted

  test("20 write-then-read cycles keep at most one persisted overlay; a clean read " +
      "and dropIndex release it") {
    val path = java.nio.file.Files.createTempDirectory("overlay_cycles").toString + "/idx"
    val store = new GraftVectorStore(spark, path)
    store.addDocuments(docs(20), "t", pageSize = 32)
    store.compactIndex("t")
    val before = persisted
    def overlays: Int = (persisted -- before).size
    (1 to 20).foreach { i =>
      store.addDocuments(Seq((s"cycle/$i", s"cycle $i spark table scan"))
        .toDF("document_path", "text"), "t", pageSize = 32)
      assert(served(path) === expectedLatest(path))
      assert(overlays === 1, s"after cycle $i")
    }
    // a compacted tenant reads clean: its overlay is released
    store.compactIndex("t")
    assert(served(path) === expectedLatest(path))
    assert(overlays === 0)
    store.deleteDocuments(Seq("cycle/1"), "t")
    assert(served(path) === expectedLatest(path))
    assert(overlays === 1)
    store.dropIndex()
    assert(overlays === 0)
  }

  test("two threads making the first read of a new file set together resolve it once") {
    val path = java.nio.file.Files.createTempDirectory("overlay_race").toString + "/idx"
    val store = new GraftVectorStore(spark, path)
    store.addDocuments(docs(20), "t", pageSize = 32)
    store.compactIndex("t")
    store.addDocuments(docs(5).withColumn("text", upper($"text")), "t", pageSize = 32)
    store.deleteDocuments(docs(8).select($"document_path").as[String].collect().drop(5), "t")
    val expected = expectedLatest(path)
    val before = persisted
    val pool = Executors.newFixedThreadPool(2)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val barrier = new CyclicBarrier(2)
      val reads = Seq.fill(2)(Future { barrier.await(30, TimeUnit.SECONDS); served(path) })
      Await.result(Future.sequence(reads), 2.minutes).foreach(rows => assert(rows === expected))
    } finally pool.shutdown()
    assert((persisted -- before).size === 1)
    store.dropIndex()
    assert((persisted -- before).isEmpty)
  }
}
