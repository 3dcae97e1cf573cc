package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IndexTable, Skew}
import graft.streaming.StreamingIngest

class StreamingIngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streaming ingest produces exactly the batch ingest rows") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_ingest").toString
    val n = StreamingIngest.ingestOnce(spark,
      landingDir = TestSpark.sf, globFilter = "documents.parquet",
      indexPath = s"$tmp/index", checkpointDir = s"$tmp/ckpt",
      alias = "stream", pageSize = 32)

    val batch = IndexTable.ingestRecords(
      spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
        .select($"source".as("document_path"), $"text"),
      alias = "stream", pageSize = 32)
    assert(n === batch.count())

    // identical rows, not just identical counts: same ids and vectors
    val streamed = spark.read.parquet(s"$tmp/index")
      .select($"id", $"page_content").orderBy($"id")
    val expected = batch.select($"id", $"page_content").orderBy($"id")
    assert(streamed.collect().toSeq === expected.collect().toSeq)
  }

  test("ingestOnceVectors re-stamps the readiness marker: a second " +
      "invocation (the multi-rep same-JVM gate scenario) reuses the MERGED " +
      "graph instead of sweeping it and rebuilding wave 1 only") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sgi_twice").toString
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val gpath = s"$tmp/graph"
    def rep(): Set[(Long, Long)] = {
      // the gate's per-rep prelude: build-or-reuse the wave-1 graph...
      graft.operators.GraphAnn.knnGraphPersisted(
        emb.where($"vec_id" % 2 === 0), gpath, m = 4, nBits = 4,
        nTables = 4, dim = 64)
      // ...then drain the landing dir (rep 2 drains ZERO batches — the
      // checkpoint remembers wave 2)
      StreamingIngest.ingestOnceVectors(spark, s"$tmp/landing", "*.parquet",
        gpath, s"$tmp/ckpt", corpus = emb, m = 4, beam = 8, rounds = 2,
        nEntry = 8, nBits = 4, nTables = 4, dim = 64)
      spark.read.parquet(gpath).select($"src", $"dst")
        .as[(Long, Long)].collect().toSet
    }
    emb.where($"vec_id" % 2 === 1).write.parquet(s"$tmp/landing")
    val first = rep()
    // the merged graph must carry wave-2 (odd) nodes
    assert(first.exists { case (s, _) => s % 2 == 1 },
      "the first rep must have linked wave 2 into the graph")
    // marker re-stamped after the merge overwrite: without it, rep 2's
    // knnGraphPersisted reads the merged graph as torn, sweeps it, and
    // rebuilds the wave-1-only graph while the stream drains nothing
    val second = rep()
    assert(second === first,
      "a second invocation must serve the SAME merged graph, not a rebuild")
  }

  test("salted join equals plain inner join") {
    val left = spark.read.parquet(s"${TestSpark.sf}/lineitem.parquet")
      .select($"l_orderkey", $"l_quantity").limit(5000)
    val right = spark.read.parquet(s"${TestSpark.sf}/orders.parquet")
      .select($"o_orderkey".as("l_orderkey"), $"o_orderpriority")
    val plain = left.join(right, "l_orderkey")
      .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"), sum($"l_quantity").as("q"))
      .orderBy($"o_orderpriority").collect().toSeq
    val salted = Skew.saltedJoin(left, right, "l_orderkey", salt = 8)
      .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"), sum($"l_quantity").as("q"))
      .orderBy($"o_orderpriority").collect().toSeq
    assert(salted === plain)
  }
}
