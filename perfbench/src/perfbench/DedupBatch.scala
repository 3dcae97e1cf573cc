package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Dedup

/** One timed dedup job and what it found. */
private final case class Pass(ms: Double, traced: Boolean, pairs: Set[(Long, Long)], clusters: Int)

/** One batch job, the LLM-data-pipeline shape: MinHash signatures, LSH
  * near-duplicate pairs, connected components and keep-best resolution over a
  * corpus with planted near-copies and one templated boilerplate cluster (a
  * skewed band bucket). Shuffle, codegen and skew dominate; per-job overhead
  * is a small share, so a change that only cuts per-request overhead shows
  * nothing here. The job is run again and again over the same corpus. */
final class DedupBatch(spark: SparkSession, args: Main.Args, res: Result)
    extends Workload(spark, args, res) {
  import Stats._
  import spark.implicits._

  val NDocs = 3000
  val CopyShare = 0.10
  val BoilerShare = 0.02
  val NumHashes = 12
  val Bands = 4
  val Threshold = 0.5
  val SetupReps = 3


  def run(): Unit = {
    val corpus = gen.dedupCorpus(NDocs, CopyShare, BoilerShare)
    phase("self-check")(selfCheck(g => {
      val c = g.dedupCorpus(NDocs, CopyShare, BoilerShare)
      Gen.digest(c.docs.iterator.map { case (id, t) => s"$id:$t" } ++ c.planted.iterator.map(_.toString))
    }))
    val local = corpus.docs.toDF("doc_id", "text")
    var docs: DataFrame = null
    phase("setup")(timedSetup(SetupReps) { i =>
      val p = args.workdir.resolve(s"dedup_corpus_$i").toString
      local.write.parquet(p)
      if (docs != null) docs.unpersist(true)
      docs = spark.read.parquet(p).cache()
      docs.count()
    })

    /** One job: every stage's output is collected, as a caller would. */
    def pass(docs: DataFrame): (Set[(Long, Long)], Array[(Long, Long)], Array[(Long, Long, Long)]) = {
      val sigs = tracer.span("dedup.signatures") {
        val s = Dedup.minhashSignatures(docs, "text", "doc_id", NumHashes, Bands)
        if (tracer.enabled) s.localCheckpoint() else s
      }
      val pairs = tracer.span("dedup.pairs")(Dedup.minhashNearDupPairsFromSigs(sigs, Threshold))
      val pairSet = pairs.select("id1", "id2").as[(Long, Long)].collect().toSet
      val comps = tracer.span("dedup.components")(Dedup.connectedComponents(pairs).localCheckpoint())
      val labels = comps.select("id", "comp").as[(Long, Long)].collect()
      val scored = docs.select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality"))
      val kept = tracer.span("dedup.resolve")(Dedup.resolveKeepBest(
        comps.select(col("id").as("doc_id"), col("comp").as("cluster_id")), scored)
        .select("cluster_id", "keep_id", "n_members").as[(Long, Long, Long)].collect())
      (pairSet, labels, kept)
    }

    /** Every cluster keeps exactly one doc, one of its own members. */
    def resolvedOk(labels: Array[(Long, Long)], kept: Array[(Long, Long, Long)]): Boolean = {
      val comp = labels.toMap
      val sizes = labels.groupBy(_._2).map { case (c, m) => c -> m.length.toLong }
      kept.map(_._1).distinct.length == kept.length && kept.length == sizes.size &&
        kept.forall { case (c, keep, n) => comp.get(keep).contains(c) && sizes.get(c).contains(n) }
    }

    phase("warm-up")(pass(docs.where(col("doc_id") < NDocs / 10))) // on a tenth of the corpus, untimed
    val passes = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    val deadline = t0 + args.seconds * 1000000000L
    val traceFrom = t0 + (if (args.trace) args.seconds * 500000000L else Long.MaxValue)
    // a pass starts while half of the last one fits before the deadline, so
    // the window overshoots by at most half a pass
    def fits = System.nanoTime() + (passes.lastOption.fold(0.0)(_.ms) * 5e5).toLong < deadline
    phase("window")(while (fits || passes.count(!_.traced) < 2 || (args.trace && passes.count(_.traced) < 2)) {
      if (args.trace && !tracer.enabled && (System.nanoTime() >= traceFrom && passes.size >= 2))
        tracer = new Tracer(sc, enabled = true)
      try {
        val ((pairSet, labels, kept), ms) = tracer.request("dedup")(pass(docs))
        passes += Pass(ms, tracer.enabled, pairSet, kept.length)
        attempt(resolvedOk(labels, kept), "a resolved cluster does not keep exactly one of its members")
        attempt(passes.head.pairs == pairSet, "a pass found other pairs than the first pass")
      } catch { case e: Exception => attempt(okay = false, s"dedup pass failed: $e"); passes += Pass(0, tracer.enabled, Set.empty, 0) }
    })
    val first = passes.head
    val recall = corpus.planted.count(first.pairs).toDouble / corpus.planted.size
    val boilerPairs = first.pairs.count { case (a, b) => corpus.boilerplate(a) && corpus.boilerplate(b) }
    val plain = passes.filterNot(_.traced).map(_.ms).toSeq
    res.lines += f"dedup_batch: $NDocs docs, ${corpus.planted.size} planted pairs, ${first.pairs.size} pairs found ($boilerPairs inside the boilerplate cluster), ${first.clusters} clusters"
    res.lines += f"dedup_pass_p50_ms ${median(plain)}%.1f (n=${plain.size}) dedup_docs_per_s ${NDocs * plain.size / (plain.sum / 1e3)}%.1f dedup_pair_recall $recall%.4f"
    res.endToEnd("op_p50_ms") = (median(plain), "ms")
    res.endToEnd("op_p90_ms") = (quantile(plain, 0.9), "ms")
    res.endToEnd("throughput_per_s") = (NDocs * plain.size / (plain.sum / 1e3), "1/s")
    res.endToEnd("recall") = (recall, "ratio")

    if (args.trace) phase("layers") {
      reportLayers(tracer, Map("dedup.pairs_per_doc" -> first.pairs.size.toDouble / NDocs),
        untracedMs = plain, tracedMs = passes.filter(_.traced).map(_.ms).toSeq, skewSpan = Some("dedup.pairs"))
    }
  }
}
