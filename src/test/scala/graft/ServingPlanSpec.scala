package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IndexTable

/** The serving plans' job counts on an unchanged tenant, and their
  * freshness under every kind of write: reads reuse the parquet relations
  * of an unchanged file set, and any write is seen by the next search. */
class ServingPlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Jobs and shuffle-write bytes of the actions run under one job group. */
  private final class GroupCounter(group: String) extends SparkListener {
    val jobs = new AtomicInteger
    val shuffleWrite = new AtomicLong
    private val stages = ConcurrentHashMap.newKeySet[Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
        jobs.incrementAndGet()
        e.stageIds.foreach(s => stages.add(s))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stages.contains(e.stageId) && e.taskMetrics != null)
        shuffleWrite.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
  }

  private val groups = new AtomicInteger

  /** (jobs, shuffle-write bytes) launched by `f` on this thread. */
  private def measure(f: => Unit): (Int, Long) = {
    val group = s"serving-plan-${groups.incrementAndGet()}"
    val counter = new GroupCounter(group)
    val sc = spark.sparkContext
    sc.addSparkListener(counter)
    sc.setJobGroup(group, group)
    try f
    finally {
      sc.clearJobGroup()
      org.apache.spark.ListenerDrain.drain(sc)
      sc.removeSparkListener(counter)
    }
    (counter.jobs.get, counter.shuffleWrite.get)
  }

  private def docs(n: Int) = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    .select($"source".as("document_path"), $"text").limit(n)

  private val prompt = "fast spark table scan query"

  test("a compacted, unchanged tenant: readLatest plans with 0 jobs, exact " +
      "search and answers run 1 job, binary search 2 jobs and no shuffle") {
    val path = java.nio.file.Files.createTempDirectory("graft_plan").toString + "/idx"
    val store = new GraftVectorStore(spark, path, binaryCandidates = Some(16))
    store.addDocuments(docs(40), "t", pageSize = 32)
    store.compactIndex("t")
    // one warm-up call of each: the relations are read once here
    store.search(prompt, "t", topN = 10).collect()
    store.answers(prompt, "t", topN = 3, threshold = 0).collect()
    store.search(prompt, "t", topN = 10, approximate = true, probeDepth = 2).collect()

    assert(measure(IndexTable.readLatest(spark, path, "t"))._1 === 0)
    assert(measure(store.search(prompt, "t", topN = 10).collect())._1 === 1)
    assert(measure(store.answers(prompt, "t", topN = 3, threshold = 0).collect())._1 === 1)
    val (binJobs, binShuffle) = measure(
      store.search(prompt, "t", topN = 10, approximate = true, probeDepth = 2).collect())
    assert(binJobs === 2)
    assert(binShuffle === 0L)
    store.dropIndex()
  }

  test("every kind of write shows on the very next search") {
    val path = java.nio.file.Files.createTempDirectory("graft_fresh").toString + "/idx"
    val store = new GraftVectorStore(spark, path, binaryCandidates = Some(16))
    store.addDocuments(docs(20), "t", pageSize = 32)
    store.compactIndex("t")
    def top(text: String): Seq[String] =
      store.search(text, "t", topN = 3).select($"document_path").as[String].collect().toSeq
    def topApprox(text: String): Seq[String] =
      store.search(text, "t", topN = 3, approximate = true)
        .select($"document_path").as[String].collect().toSeq
    val textA = "zyzzyva quokka axolotl wombat"
    val textB = "pangolin narwhal okapi tapir"
    // warm: the relations of the compacted tenant are now reused
    assert(!top(textA).contains("planted/a"))
    assert(!topApprox(textA).contains("planted/a"))

    // an append through a second store instance over the same path
    new GraftVectorStore(spark, path, binaryCandidates = Some(16))
      .addDocuments(Seq(("planted/a", textA)).toDF("document_path", "text"), "t")
    assert(top(textA).head === "planted/a")
    assert(topApprox(textA).head === "planted/a")

    // a direct IndexTable append
    IndexTable.append(IndexTable.ingestRecords(
      Seq(("planted/b", textB)).toDF("document_path", "text"), "t"), path)
    assert(top(textB).head === "planted/b")

    // a tombstone delete
    val idsB = IndexTable.readLatest(spark, path, "t")
      .where($"document_path" === "planted/b").select($"id")
    IndexTable.deleteRecords(idsB, path, "t")
    assert(!top(textB).contains("planted/b"))
    assert(!topApprox(textB).contains("planted/b"))

    // a compaction that retires the old generation and the folded deltas
    // at once: a read over the retired files would fail
    val before = IndexTable.generations(spark, path, "t").head
    IndexTable.compact(spark, path, "t", retainMillis = 0L)
    val gen = IndexTable.generations(spark, path, "t")
    assert(gen.size === 1 && gen.head != before)
    assert(IndexTable.readLatest(spark, path, "t").inputFiles
      .forall(_.contains(s"gen_${gen.head}")))
    assert(top(textA).head === "planted/a")
    assert(!top(textB).contains("planted/b"))
    assert(topApprox(textA).head === "planted/a")
    store.dropIndex()
  }
}
