package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.operators.Rerank

/** Seeded single-process benchmark over the engine's public API.
  *
  * {{{
  * Main --workload qa_serve|ingest_churn|dedup_batch --seed N --seconds S
  *      --trace 0|1 --workdir DIR
  * }}}
  *
  * `--trace 0` measures the end-to-end metrics through the facade
  * (`GraftVectorStore`, `Dedup`). `--trace 1` runs half of the time the same
  * way and half through a recomposition that calls each layer's public
  * functions inside a span, and reports per-layer metrics, self times and the
  * traced-vs-untraced difference. The last stdout line is the result JSON. */
object Main {
  val Model = "text-embedding-ada-002"
  val TopN = 10
  val Fanout = 50
  val BinaryCandidates = 200
  val ProbeDepth = 2
  /** Cosine agreement allowed between the engine and the benchmark's own
    * brute-force top-k (float accumulation order differs). */
  val SimTol = 1e-4

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, workdir: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1", Paths.get(m("workdir")))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors().min(4)
    val work = args.workdir.toAbsolutePath
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.retainedJobs", "1000000")
      .config("spark.ui.retainedStages", "1000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val res = new Result
    res.lines += f"jvm and spark start ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s"
    val ok = try {
      val bench = args.workload match {
        case "qa_serve" => new QaServe(spark, args, res)
        case "ingest_churn" => new IngestChurn(spark, args, res)
        case "dedup_batch" => new DedupBatch(spark, args, res)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      bench.run()
      bench.reportPhases()
      res.endToEnd("ok_op_ratio") = (1.0 - res.failed.toDouble / math.max(1L, res.attempted), "ratio")
      true
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: ${args.workload} aborted: $e")
        e.printStackTrace()
        false
    } finally spark.stop()
    if (!ok) sys.exit(2)
    res.lines.foreach(println)
    res.checksFailed.foreach(f => println(s"check failed: $f"))
    println(res.json(args.trace))
    sys.exit(if (res.correct) 0 else 1)
  }
}

/** What a run prints: report lines, the metric set of its mode, and the
  * attempted/failed/correct tally. */
final class Result {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val lines = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  val checksFailed = mutable.ArrayBuffer.empty[String]
  def correct: Boolean = failed == 0 && checksFailed.isEmpty && attempted > 0

  def fail(what: String): Unit = synchronized {
    if (checksFailed.size < 20) checksFailed += what
  }
  def json(trace: Boolean): String = {
    val ms = (if (trace) perLayer else endToEnd).map { case (k, (v, u)) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.toInt; val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Quantile of (value, weight) samples: each sample sits at the middle of
    * its weight on the cumulative scale, linear in between. */
  def weightedQuantile(xs: Seq[(Double, Double)], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sortBy(_._1).toIndexedSeq
      val total = s.map(_._2).sum
      var acc = 0.0
      val pos = s.map { case (_, w) => acc += w; (acc - w / 2) / total }
      val i = pos.indexWhere(_ >= q)
      if (i == 0) s.head._1
      else if (i < 0) s.last._1
      else s(i - 1)._1 + (s(i)._1 - s(i - 1)._1) * (q - pos(i - 1)) / (pos(i) - pos(i - 1))
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Total length of the union of (start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L; var a = Long.MinValue; var b = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > b) { if (b > a) covered += b - a; a = s; b = e } else b = b max e
    }
    if (b > a) covered += b - a
    covered
  }
}

/** What every workload shares: the seed's generator, the tracer, the listener
  * of a traced run, timing of set-up, and the per-layer report. */
abstract class Workload(val spark: SparkSession, val args: Main.Args, val res: Result) {
  import Stats._
  val gen = new Gen(args.seed)
  val sc = spark.sparkContext
  val listener: Option[AttributionListener] =
    if (args.trace) { val l = new AttributionListener; sc.addSparkListener(l); Some(l) } else None
  /** Spans are recorded only in the traced half of a `--trace 1` run. */
  var tracer = new Tracer(sc, enabled = false)

  /** Workload-specific: build inputs, set up `reps` times, measure, check. */
  def run(): Unit

  private val phaseSecs = mutable.ArrayBuffer.empty[(String, Double)]

  /** Runs one phase of the run, keeping its wall seconds for the report. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phaseSecs += name -> (System.nanoTime() - t0) / 1e9
  }

  def reportPhases(): Unit =
    res.lines += phaseSecs.map { case (n, s) => f"$n $s%.1f" }.mkString("phase seconds: ", ", ", "")

  /** Generates the workload's inputs twice with the run's seed and once with
    * another seed: the digests must match and differ. */
  def selfCheck(digestOf: Gen => String): Unit = {
    val a = digestOf(gen)
    val b = digestOf(new Gen(args.seed))
    val c = digestOf(new Gen(args.seed + 1))
    res.lines += s"generator digest $a (seed ${args.seed})"
    if (a != b) res.fail("generator: same seed gave different inputs")
    if (a == c) res.fail("generator: different seeds gave the same inputs")
  }

  /** Runs set-up step 0 until `steps` and reports the median seconds as
    * `setup_s`. */
  def timedSetup(steps: Int)(step: Int => Unit): Unit = {
    val secs = (0 until steps).map { i =>
      val t0 = System.nanoTime()
      step(i)
      (System.nanoTime() - t0) / 1e9
    }
    res.lines += f"setup steps (s): ${secs.map(s => f"$s%.3f").mkString(" ")}"
    res.endToEnd("setup_s") = (median(secs), "s")
  }

  /** Closed loop: runs `step` on `clients` threads until `seconds` pass. */
  def closedLoop(clients: Int, seconds: Double)(step: Int => Unit): Double = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val t0 = System.nanoTime()
    val ts = (0 until clients).map { c =>
      val t = new Thread(() => while (System.nanoTime() < deadline) step(c))
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** The parquet files under `p`. */
  def parquetFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else scala.util.Using.resource(Files.walk(p))(_.iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toList)

  def dirBytes(p: Path): Long = parquetFiles(p).map(Files.size).sum

  /** Every per-layer metric, 0 where the workload does not reach the layer. */
  val layerUnits: Seq[(String, String)] = Seq(
    "embedder.query_ms" -> "ms", "embedder.doc_pages_per_s" -> "pages/s",
    "chunker.ms" -> "ms", "chunker.pages_per_doc" -> "count",
    "index.read_latest_ms" -> "ms", "index.files_per_tenant" -> "count",
    "index.delta_files" -> "count", "index.shuffle_bytes_per_search" -> "B",
    "index.ingest_records_ms" -> "ms", "index.append_ms" -> "ms",
    "index.bytes_written_per_page" -> "B", "index.delete_ms" -> "ms",
    "index.compact_ms" -> "ms", "index.bytes_rewritten_per_compact" -> "B",
    "index.store_bytes_per_page" -> "B",
    "knn.topk_ms" -> "ms", "knn.rows_scanned_per_hit" -> "count",
    "rerank.ms" -> "ms", "rerank.kept_ratio" -> "ratio",
    "binaryquant.hamming_topk_ms" -> "ms", "binaryquant.candidates_per_hit" -> "count",
    "dedup.signatures_ms" -> "ms", "dedup.pairs_ms" -> "ms", "dedup.pairs_per_doc" -> "ratio",
    "dedup.components_ms" -> "ms", "dedup.resolve_ms" -> "ms",
    "request.self_ms" -> "ms",
    "spark.jobs_per_request" -> "count", "spark.tasks_per_request" -> "count",
    "spark.driver_ms_per_request" -> "ms", "spark.task_wait_ms_per_request" -> "ms",
    "spark.shuffle_bytes" -> "B", "spark.spill_bytes" -> "B", "spark.gc_ms" -> "ms",
    "spark.task_skew" -> "ratio",
    "trace.overhead_ratio" -> "ratio")

  /** Fills the per-layer metrics of a traced run. `counts` holds the layer
    * counters the workload measured itself; `untracedMs` / `tracedMs` are the
    * request latencies of the two halves; `skewSpan` names the span whose
    * heaviest stage gives `spark.task_skew` (None: the heaviest stage of all
    * traced requests). */
  def reportLayers(tracer: Tracer, counts: Map[String, Double], untracedMs: Seq[Double], tracedMs: Seq[Double],
                   skewSpan: Option[String]): Unit = {
    val l = listener.get
    org.apache.spark.BenchBridge.drain(sc)
    val spans = tracer.all
    val self = tracer.selfMs()
    val roots = spans.filter(_.parent == 0L)
    // self time per layer, by span name
    res.lines += "layer self time (traced half):"
    val byName = spans.groupBy(_.name).toSeq.sortBy(-_._2.map(s => self(s.id)).sum)
    val wall = roots.map(_.ms).sum
    byName.foreach { case (n, ss) =>
      val tot = ss.map(s => self(s.id)).sum
      res.lines += f"  $n%-28s calls ${ss.size}%5d  self ${tot}%10.1f ms  share ${100 * tot / wall}%5.1f%%  median ${median(ss.map(s => self(s.id)))}%8.2f ms"
    }
    def layerMs(n: String): Double = median(spans.filter(_.name == n).map(s => self(s.id)))
    val fromSpans = Map(
      "embedder.query_ms" -> layerMs("embedder.query"),
      "chunker.ms" -> layerMs("chunker"),
      "index.read_latest_ms" -> layerMs("index.read_latest"),
      "index.ingest_records_ms" -> layerMs("index.ingest_records"),
      "index.append_ms" -> layerMs("index.append"),
      "index.delete_ms" -> layerMs("index.delete"),
      "index.compact_ms" -> layerMs("index.compact"),
      "knn.topk_ms" -> layerMs("knn.topk"),
      "rerank.ms" -> layerMs("rerank"),
      "binaryquant.hamming_topk_ms" -> layerMs("binaryquant.hamming_topk"),
      "dedup.signatures_ms" -> layerMs("dedup.signatures"),
      "dedup.pairs_ms" -> layerMs("dedup.pairs"),
      "dedup.components_ms" -> layerMs("dedup.components"),
      "dedup.resolve_ms" -> layerMs("dedup.resolve"),
      "request.self_ms" -> median(roots.map(s => self(s.id))))
    // Spark counters per traced request
    val reqs = roots.map(r => r -> l.perReq.getOrElse(r.req, new Counters))
    val n = math.max(1, reqs.size).toDouble
    val sparkM = Map(
      "spark.jobs_per_request" -> reqs.map(_._2.jobs.toDouble).sum / n,
      "spark.tasks_per_request" -> reqs.map(_._2.tasks.toDouble).sum / n,
      "spark.driver_ms_per_request" -> reqs.map { case (r, _) => math.max(0.0, r.ms - l.jobBusyMs(r.req)) }.sum / n,
      "spark.task_wait_ms_per_request" -> reqs.map(_._2.taskWaitMs).sum / n,
      "spark.shuffle_bytes" -> reqs.map(_._2.shuffleBytes.toDouble).sum / n,
      "spark.spill_bytes" -> reqs.map(_._2.spillBytes.toDouble).sum / n,
      "spark.gc_ms" -> reqs.map(_._2.gcMs).sum / n,
      "spark.task_skew" -> {
        val spanIds = skewSpan.fold(spans.map(_.id).toSet)(sn => spans.filter(_.name == sn).map(_.id).toSet)
        val stages = l.stageTaskMs.toSeq.filter { case (st, _) => spanIds(l.stageSpan.getOrElse(st, -1L)) }
        if (stages.isEmpty) 0.0
        else {
          val (_, ts) = stages.maxBy(_._2.sum)
          val med = median(ts.toSeq)
          if (med <= 0) 1.0 else ts.max / med
        }
      })
    val overhead =
      if (untracedMs.isEmpty || tracedMs.isEmpty) 0.0
      else median(tracedMs) / median(untracedMs) - 1.0
    res.lines += f"tracing overhead: traced median ${median(tracedMs)}%.1f ms vs untraced ${median(untracedMs)}%.1f ms (${100 * overhead}%+.1f%%)"
    val all = fromSpans ++ sparkM ++ counts + ("trace.overhead_ratio" -> overhead)
    layerUnits.foreach { case (k, u) => res.perLayer(k) = (all.getOrElse(k, 0.0), u) }
    // every request's counters against Spark's own status store, request by
    // request, and their sums against the run totals
    val store = org.apache.spark.BenchBridge.groupTotals(sc, Tracer.GroupPrefix)
    val tagged = l.perReq.filter(_._1 != 0L).map { case (r, c) => s"${Tracer.GroupPrefix}$r" -> (c.jobs, c.tasks, c.shuffleBytes) }
    val wrong = (store.keySet ++ tagged.keySet).filter(g => store.get(g) != tagged.get(g))
    def sum3(xs: Iterable[(Long, Long, Long)]) = (xs.map(_._1).sum, xs.map(_._2).sum, xs.map(_._3).sum)
    val (lJobs, lTasks, lShuffle) = sum3(tagged.values)
    val (sJobs, sTasks, sShuffle) = sum3(store.values)
    res.lines += s"attribution: ${tagged.size} requests; listener jobs $lJobs tasks $lTasks shuffle $lShuffle B; status store jobs $sJobs tasks $sTasks shuffle $sShuffle B; ${wrong.size} requests differ"
    if (wrong.nonEmpty)
      res.fail(s"per-request Spark counters differ from the status store for ${wrong.toSeq.sorted.take(3).mkString(", ")}")
    Files.createDirectories(args.workdir.getParent)
    tracer.write(args.workdir.getParent.resolve(s"trace-${args.workload}-${args.seed}.jsonl"))
  }

  /** Records one timed operation's outcome. */
  def attempt(okay: Boolean, what: => String): Unit = res.synchronized {
    res.attempted += 1
    if (!okay) { res.failed += 1; res.fail(what) }
  }
}

/** Cosine top-k over rows held by the benchmark: the reference the engine's
  * exact search is checked against. */
final class BruteForce(rows: IndexedSeq[(String, String, Int, Array[Float])]) {
  private val norms = rows.map { case (_, _, _, v) => math.sqrt(v.map(x => x.toDouble * x).sum) }
  def scores(q: Array[Float]): IndexedSeq[(String, Double)] = {
    val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
    rows.indices.map { i =>
      val v = rows(i)._4
      var dot = 0.0; var j = 0
      while (j < v.length) { dot += v(j).toDouble * q(j); j += 1 }
      rows(i)._1 -> (if (qn == 0 || norms(i) == 0) 0.0 else dot / (qn * norms(i)))
    }
  }
  def topK(q: Array[Float], k: Int): IndexedSeq[(String, Double)] =
    scores(q).sortBy { case (id, s) => (-s, id) }.take(k)
  val ids: Set[String] = rows.map(_._1).toSet
}

object Checks {
  /** Exact top-k hits (id, similarity) match the brute-force top-k up to ties. */
  def exactMatches(hits: Seq[(String, Double)], bf: BruteForce, q: Array[Float], k: Int): Boolean = {
    val all = bf.scores(q).toMap
    val want = bf.topK(q, k)
    hits.size == want.size &&
      hits.zip(want).forall { case ((_, s), (_, w)) => math.abs(s - w) <= Main.SimTol } &&
      hits.forall { case (id, s) => all.get(id).exists(b => math.abs(b - s) <= Main.SimTol) }
  }

  /** An answers result: at most topN rows, scores >= threshold, descending. */
  def answersOk(scores: Seq[Int]): Boolean =
    scores.size <= Main.TopN && scores.forall(_ >= Rerank.ScoreThreshold) &&
      scores.zip(scores.drop(1)).forall { case (a, b) => a >= b }
}
