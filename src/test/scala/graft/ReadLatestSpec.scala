package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IndexTable

/** The read contract of `readLatest`: a lazy plan over the tenant's files
  * that resolves pending deltas as last-write-wins, holds no memory of its
  * own (only the serving rows are cached, see `ServingLifecycleSpec`), and
  * returns the same rows to readers that make the first read of a new file
  * set together. */
class ReadLatestSpec extends AnyFunSuite {
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

  test("20 write-then-read cycles read last-write-wins and persist nothing") {
    val path = java.nio.file.Files.createTempDirectory("read_cycles").toString + "/idx"
    val store = new GraftVectorStore(spark, path)
    val base = docs(20).collect().map(r => (r.getString(0), r.getString(1))).toSeq
    store.addDocuments(base.toDF("document_path", "text"), "t", pageSize = 32)
    store.compactIndex("t")
    val before = persisted
    (1 to 20).foreach { i =>
      // a new doc, an upsert of a generation doc, and every third cycle a
      // delete; every seventh cycle compacts, so later cycles contest rows
      // of a generation that itself folded deltas
      val (upPath, upText) = base(i % base.size)
      store.addDocuments(Seq((s"cycle/$i", s"cycle $i spark table scan"),
        (upPath, s"$upText revised $i")).toDF("document_path", "text"), "t", pageSize = 32)
      if (i % 3 == 0)
        store.deleteDocuments(Seq(s"cycle/${i - 1}", base((i + 1) % base.size)._1), "t")
      if (i % 7 == 0) store.compactIndex("t")
      assert(served(path) === expectedLatest(path), s"after cycle $i")
      assert(persisted === before, s"after cycle $i")
    }
    store.dropIndex()
  }

  test("two concurrent first reads of a new file set both read the latest rows") {
    val path = java.nio.file.Files.createTempDirectory("read_race").toString + "/idx"
    val store = new GraftVectorStore(spark, path)
    store.addDocuments(docs(20), "t", pageSize = 32)
    store.compactIndex("t")
    store.addDocuments(docs(5).withColumn("text", upper($"text")), "t", pageSize = 32)
    store.deleteDocuments(docs(8).select($"document_path").as[String].collect().drop(5), "t")
    val expected = expectedLatest(path)
    val pool = Executors.newFixedThreadPool(2)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val barrier = new CyclicBarrier(2)
      val reads = Seq.fill(2)(Future { barrier.await(30, TimeUnit.SECONDS); served(path) })
      Await.result(Future.sequence(reads), 2.minutes).foreach(rows => assert(rows === expected))
    } finally pool.shutdown()
    store.dropIndex()
  }

  test("a null id in a delete, or in a tombstone already on disk, hides no row") {
    val path = java.nio.file.Files.createTempDirectory("read_null_id").toString + "/idx"
    val store = new GraftVectorStore(spark, path)
    store.addDocuments(Seq(("a/doc", "okapi tapir narwhal"), ("b/doc", "quokka axolotl wombat"))
      .toDF("document_path", "text"), "t", pageSize = 32)
    def paths: Seq[String] = IndexTable.readLatest(spark, path, "t")
      .select($"document_path").as[String].collect().toSeq.sorted
    def searched: Seq[String] = store.search("okapi quokka", "t", topN = 10)
      .select($"document_path").as[String].collect().toSeq.sorted
    // a tombstone row with a null id, as an older writer could leave it
    val nullTombstone = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(null, "t", null, null, null, null, true))),
      StructType(IndexTable.schema.filterNot(_.name == "ingest_seq")))
    // with deltas only, then over a compacted generation
    Seq(false, true).foreach { compacted =>
      if (compacted) store.compactIndex("t")
      val physical = IndexTable.read(spark, path, "t").count()
      IndexTable.delete(spark, path, "t", Seq(null))
      assert(IndexTable.read(spark, path, "t").count() === physical, s"compacted=$compacted")
      assert(paths === Seq("a/doc", "b/doc"), s"compacted=$compacted")
      assert(searched === Seq("a/doc", "b/doc"), s"compacted=$compacted")
      IndexTable.append(nullTombstone, path)
      assert(paths === Seq("a/doc", "b/doc"), s"compacted=$compacted")
      assert(searched === Seq("a/doc", "b/doc"), s"compacted=$compacted")
    }
    store.dropIndex()
  }
}
