package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IndexTable

/** The serving plans' job counts on an unchanged tenant, and their
  * freshness under every kind of write: reads reuse the parquet relations
  * of an unchanged file set, and any write is seen by the next search. A
  * call's first run over a view runs its kernel; an identical call after it
  * is answered by the view's memo, so the pins measure a second prompt. */
class ServingPlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Jobs and shuffle-write bytes of the actions run under one job group,
    * and the SQL executions started meanwhile (suites run one at a time). */
  private final class GroupCounter(group: String) extends SparkListener {
    val jobs = new AtomicInteger
    val shuffleWrite = new AtomicLong
    val sqlExecutions = new AtomicInteger
    private val stages = ConcurrentHashMap.newKeySet[Int]()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart => sqlExecutions.incrementAndGet()
      case _ => ()
    }
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
    val (jobs, shuffle, _) = count(f)
    (jobs, shuffle)
  }

  /** (jobs, shuffle-write bytes, SQL executions) launched by `f`. */
  private def count(f: => Unit): (Int, Long, Int) = {
    val group = s"serving-plan-${groups.incrementAndGet()}"
    val counter = new GroupCounter(group)
    val sc = spark.sparkContext
    // an earlier action's events still on the bus are not f's
    org.apache.spark.ListenerDrain.drain(sc)
    sc.addSparkListener(counter)
    sc.setJobGroup(group, group)
    try f
    finally {
      sc.clearJobGroup()
      org.apache.spark.ListenerDrain.drain(sc)
      sc.removeSparkListener(counter)
    }
    (counter.jobs.get, counter.shuffleWrite.get, counter.sqlExecutions.get)
  }

  private def docs(n: Int) = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    .select($"source".as("document_path"), $"text").limit(n)

  private val prompt = "fast spark table scan query"
  /** A second prompt: its first call over a view warmed with [[prompt]]
    * runs the kernel, where a repeat of [[prompt]] is answered by the
    * view's memo. */
  private val other = "parquet rows read again"

  test("a compacted, unchanged tenant: readLatest plans with 0 jobs, exact " +
      "search and answers run 1 job, binary search 1 job and no shuffle") {
    val path = java.nio.file.Files.createTempDirectory("graft_plan").toString + "/idx"
    val store = new GraftVectorStore(spark, path, binaryCandidates = Some(16))
    store.addDocuments(docs(40), "t", pageSize = 32)
    store.compactIndex("t")
    // one warm-up call of each: the relations are read once here
    store.search(prompt, "t", topN = 10).collect()
    store.answers(prompt, "t", topN = 3, threshold = 0).collect()
    store.search(prompt, "t", topN = 10, approximate = true, probeDepth = 2).collect()

    assert(measure(IndexTable.readLatest(spark, path, "t"))._1 === 0)
    assert(measure(store.search(other, "t", topN = 10).collect())._1 === 1)
    assert(measure(store.answers(other, "t", topN = 3, threshold = 0).collect())._1 === 1)
    val (binJobs, binShuffle) = measure(
      store.search(other, "t", topN = 10, approximate = true, probeDepth = 2).collect())
    assert(binJobs === 1)
    assert(binShuffle === 0L)
    store.dropIndex()
  }

  /** A compacted tenant of 40 docs with one round of deltas pending: 5 new
    * docs, 5 upserted ones and a tombstone delete of 2 more. */
  private def tenantWithDeltas(dir: String): (String, GraftVectorStore, Seq[String]) = {
    val path = java.nio.file.Files.createTempDirectory(dir).toString + "/idx"
    val store = new GraftVectorStore(spark, path)
    val base = docs(40).collect().map(r => (r.getString(0), r.getString(1))).toSeq
    store.addDocuments(base.toDF("document_path", "text"), "t", pageSize = 32)
    store.compactIndex("t")
    store.search(prompt, "t", topN = 10).collect()
    store.addDocuments((base.take(5).map { case (p, t) => (p, t.toUpperCase) } ++
      (1 to 5).map(i => (s"new/$i", s"fresh spark scan number $i"))).toDF("document_path", "text"),
      "t", pageSize = 32)
    val paths = base.map(_._1).distinct
    store.deleteDocuments(paths.slice(5, 7), "t")
    (path, store, paths)
  }

  test("with deltas pending: a read plans with 0 jobs right after an append, and " +
      "a warm exact search runs 1 job and no shuffle") {
    val (path, store, _) = tenantWithDeltas("graft_plan_delta")
    IndexTable.append(IndexTable.ingestRecords(
      Seq(("planted/c", "okapi tapir")).toDF("document_path", "text"), "t"), path)
    assert(measure(IndexTable.read(spark, path, "t"))._1 === 0)
    // the first search of this file set resolves the deltas and caches its rows
    store.search(prompt, "t", topN = 10).collect()
    var warm = Seq.empty[org.apache.spark.sql.Row]
    val (jobs, shuffle) = measure { warm = store.search(other, "t", topN = 10).collect().toSeq }
    assert(jobs === 1)
    assert(shuffle === 0L)
    assert(warm === graft.operators.KnnSearch.hitProjection(graft.operators.KnnSearch.topK(
      IndexTable.readLatest(spark, path, "t"), graft.functions.Embedder.embedQuery(other), 10))
      .collect().toSeq)
    assert(measure(store.answers(other, "t", topN = 3, threshold = 0).collect())._1 === 1)
    store.dropIndex()
  }

  test("readLatest on a new file set with deltas pending runs no job, starts no SQL " +
      "execution and persists nothing") {
    val (path, store, _) = tenantWithDeltas("graft_plan_lazy")
    IndexTable.append(IndexTable.ingestRecords(
      Seq(("planted/d", "okapi tapir")).toDF("document_path", "text"), "t"), path)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    var latest: DataFrame = null
    val (jobs, _, sqlExecutions) = count { latest = IndexTable.readLatest(spark, path, "t") }
    assert(jobs === 0)
    assert(sqlExecutions === 0)
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet === persisted)
    assert(latest.where($"document_path" === "planted/d").count() === 1L)
    store.dropIndex()
  }

  /** A warm `search` and a warm `answers` call on `store`'s tenant "t":
    * see [[assertWarmPlansNothing]]. */
  private def assertWarmCallsPlanNothing(store: GraftVectorStore): Unit =
    assertWarmPlansNothing(Seq(
      "search" -> (p => store.search(p, "t", topN = 10)),
      "answers" -> (p => store.answers(p, "t", topN = 3, threshold = 0))))

  /** Each call, once warm with [[prompt]], runs 1 job for [[other]], writes
    * no shuffle bytes and starts no SQL execution (the tenant scan is not
    * planned again), and reading its result runs no job. The same call
    * again runs no job at all, from the view's memo, and gives the same
    * rows. */
  private def assertWarmPlansNothing(calls: Seq[(String, String => DataFrame)]): Unit =
    calls.foreach { case (name, call) =>
      call(prompt).collect() // warm: the serving rows of this view are cached
      var result: DataFrame = null
      val (jobs, shuffle, sqlExecutions) = count { result = call(other) }
      assert(jobs === 1, name)
      assert(shuffle === 0L, name)
      assert(sqlExecutions === 0, name)
      val (readJobs, _, _) = count(result.collect())
      assert(readJobs === 0, name)
      assert(result.collect().nonEmpty, name)
      var repeated: DataFrame = null
      val (repeatJobs, repeatShuffle, repeatSql) = count { repeated = call(other) }
      assert(repeatJobs === 0, s"$name, repeated")
      assert(repeatShuffle === 0L, s"$name, repeated")
      assert(repeatSql === 0, s"$name, repeated")
      val (repeatReadJobs, _, _) = count(repeated.collect())
      assert(repeatReadJobs === 0, s"$name, repeated")
      assert(repeated.collect().toSeq === result.collect().toSeq, s"$name, repeated")
    }

  test("a warm search or answers call runs 1 job, no shuffle and no SQL execution, " +
      "and reading its result runs no job: compacted and with deltas pending") {
    val path = java.nio.file.Files.createTempDirectory("graft_plan_warm").toString + "/idx"
    val compacted = new GraftVectorStore(spark, path)
    compacted.addDocuments(docs(40), "t", pageSize = 32)
    compacted.compactIndex("t")
    assertWarmCallsPlanNothing(compacted)
    compacted.dropIndex()
    val (_, withDeltas, _) = tenantWithDeltas("graft_plan_warm_delta")
    assertWarmCallsPlanNothing(withDeltas)
    withDeltas.dropIndex()
  }

  test("a warm approximate search runs 1 job, no shuffle and no SQL execution, and " +
      "reading its result runs no job: compacted and with deltas pending") {
    def approximate(store: GraftVectorStore): Seq[(String, String => DataFrame)] = Seq(
      "approximate search" -> (p =>
        store.search(p, "t", topN = 10, approximate = true, probeDepth = 2)))
    val path = java.nio.file.Files.createTempDirectory("graft_plan_ann").toString + "/idx"
    val compacted = new GraftVectorStore(spark, path, binaryCandidates = Some(16))
    compacted.addDocuments(docs(40), "t", pageSize = 32)
    compacted.compactIndex("t")
    assertWarmPlansNothing(approximate(compacted))
    compacted.dropIndex()
    val (deltaPath, withDeltas, _) = tenantWithDeltas("graft_plan_ann_delta")
    assert(IndexTable.deltaFileCount(spark, deltaPath, "t") > 0)
    assertWarmPlansNothing(approximate(
      new GraftVectorStore(spark, deltaPath, binaryCandidates = Some(16))))
    withDeltas.dropIndex()
  }

  test("the first search after a write over a cached view runs at most 3 jobs and no " +
      "shuffle; after a compaction of a cached view with no later write, 1 job") {
    val (path, store, paths) = tenantWithDeltas("graft_plan_fold")
    def pipeline(p: String = prompt): Seq[org.apache.spark.sql.Row] =
      graft.operators.KnnSearch.hitProjection(graft.operators.KnnSearch.topK(
        IndexTable.readLatest(spark, path, "t"), graft.functions.Embedder.embedQuery(p), 10))
        .collect().toSeq
    def firstSearch(what: String): Unit = {
      var hits = Seq.empty[org.apache.spark.sql.Row]
      val (jobs, shuffle, _) = count { hits = store.search(prompt, "t", topN = 10).collect().toSeq }
      assert(jobs <= 3, what)
      assert(shuffle === 0L, what)
      assert(hits === pipeline(), what)
    }
    // the deltas of tenantWithDeltas fold into the plain view of the
    // generation its first search cached
    firstSearch("onto the generation's view")
    store.addDocuments(Seq(("planted/e", "fast spark table scan query okapi"),
      (paths.head, "fast spark revised table")).toDF("document_path", "text"), "t", pageSize = 32)
    store.deleteDocuments(paths.slice(10, 12), "t")
    firstSearch("onto a folded view")
    store.compactIndex("t")
    var hits = Seq.empty[org.apache.spark.sql.Row]
    val (jobs, shuffle, _) = count { hits = store.search(other, "t", topN = 10).collect().toSeq }
    assert(jobs === 1)
    assert(shuffle === 0L)
    assert(hits === pipeline(other))
    // the re-keyed view kept the memo of the folded one
    val (memoJobs, _, _) = count { hits = store.search(prompt, "t", topN = 10).collect().toSeq }
    assert(memoJobs === 0)
    assert(hits === pipeline())
    store.dropIndex()
  }

  test("deleteDocuments is one shuffle-free scan and resolves no overlay") {
    val (_, store, paths) = tenantWithDeltas("graft_plan_del")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val (jobs, shuffle) = measure(store.deleteDocuments(paths.slice(7, 9), "t"))
    assert(jobs === 1)
    assert(shuffle === 0L)
    assert(spark.sparkContext.getPersistentRDDs.keySet === persisted)
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
