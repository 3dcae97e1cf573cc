package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The MinHash pair stage's plan shape: Spark jobs and shuffle exchanges
  * per call, so a regression fails here and not only in the benchmark. */
class DedupPlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Jobs and executed shuffle-map stages (stages that wrote shuffle
    * output) of the actions run under one job group. */
  private final class GroupCounter(group: String) extends SparkListener {
    val jobs = new AtomicInteger
    val shuffles = new AtomicInteger
    private val stages = ConcurrentHashMap.newKeySet[Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
        jobs.incrementAndGet()
        e.stageIds.foreach(s => stages.add(s))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (stages.contains(e.stageInfo.stageId) &&
          e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten > 0)
        shuffles.incrementAndGet()
  }

  /** (jobs, shuffle exchanges) launched by `f` on this thread. */
  private def measure(f: => Unit): (Int, Int) = {
    val group = "dedup-plan"
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
    (counter.jobs.get, counter.shuffles.get)
  }

  test("minhash pairs from signatures: 2 jobs and 2 shuffle exchanges " +
      "(a map-side combined bucket count, then one verify group)") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id",
      numHashes = 12, bands = 4).localCheckpoint()
    // the call materializes its pairs itself: every job it needs runs here
    var pairs: org.apache.spark.sql.DataFrame = null
    val (jobs, shuffles) = measure {
      pairs = Dedup.minhashNearDupPairsFromSigs(sigs, threshold = 0.30)
    }
    assert(pairs.count() > 0, "the fixture must yield pairs for the shape to mean anything")
    assert((jobs, shuffles) === (2, 2))
  }
}
