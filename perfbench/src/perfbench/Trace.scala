package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `parent` is 0 for a request's
  * root span; spans of one request share `req`. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Off unless `enabled`; when on, every span also
  * tags the Spark jobs its thread starts (local property [[SpanProp]]), so
  * the listener can charge task counters to the span that caused them. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = new ThreadLocal[List[(Long, Long)]] { // (span id, request id)
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** Runs one request: tags its jobs with a job group named after the request
    * id (in every mode, so both modes run the same code) and records the root
    * span `name`. Returns the body's value and the request's wall ms. Request
    * ids are unique over the whole run, across tracers, so the listener never
    * merges two requests. */
  def request[T](name: String)(body: => T): (T, Double) = {
    val req = reqIds.incrementAndGet()
    sc.setJobGroup(s"$GroupPrefix$req", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val v = if (enabled) open(name, req)(body) else body
      (v, (System.nanoTime() - t0) / 1e6)
    } finally sc.clearJobGroup()
  }

  /** A child span of the current request around one layer call. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else stack.get() match {
      case (_, req) :: _ => open(name, req)(body)
      case Nil => open(name, 0L)(body)
    }

  private def open[T](name: String, req: Long)(body: => T): T = {
    val outer = stack.get()
    val id = ids.incrementAndGet()
    stack.set((id, req) :: outer)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      spans.add(Span(id, outer.headOption.map(_._1).getOrElse(0L), req, name, t0, t1))
      stack.set(outer)
      sc.setLocalProperty(SpanProp, outer.headOption.map(_._1.toString).orNull)
    }
  }

  def all: Seq[Span] = { import scala.jdk.CollectionConverters._; spans.asScala.toSeq }

  /** Self ms per span id: duration minus the union of its children's
    * intervals. */
  def selfMs(): Map[Long, Double] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => (k.startNs max s.startNs, k.endNs min s.endNs))
      s.id -> (s.endNs - s.startNs - Stats.unionLength(kids)) / 1e6
    }.toMap
  }

  /** Writes every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map(s =>
      f"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val GroupPrefix = "perfbench-req-"
  private val reqIds = new AtomicLong(0L)
}

/** Task-level counters, summed. */
final class Counters {
  var jobs = 0L; var tasks = 0L; var taskWaitMs = 0.0
  var gcMs = 0.0; var shuffleBytes = 0L; var spillBytes = 0L
  var recordsRead = 0L; var bytesWritten = 0L
}

/** Charges every job and task to the request (job group) and span (local
  * property) that started it. Safe under concurrent clients: the keys travel
  * with the job's properties, never with wall-clock overlap. Events arrive on
  * the listener bus thread; read only after [[org.apache.spark.BenchBridge.drain]]. */
final class AttributionListener extends SparkListener {
  private val jobKey = scala.collection.mutable.Map.empty[Int, (Long, Long)]
  private val stageKey = scala.collection.mutable.Map.empty[Int, (Long, Long)]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val stageSubmit = scala.collection.mutable.Map.empty[Int, Long]
  /** Task run ms per stage, for skew. */
  val stageTaskMs = scala.collection.mutable.Map.empty[Int, scala.collection.mutable.ArrayBuffer[Double]]
  val stageSpan = scala.collection.mutable.Map.empty[Int, Long]
  val perReq = scala.collection.mutable.Map.empty[Long, Counters]
  val perSpan = scala.collection.mutable.Map.empty[Long, Counters]
  /** (start, end) epoch ms of every job of a request. */
  val reqJobs = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.ArrayBuffer[(Long, Long)]]

  private def reqOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))
      .map(_.stripPrefix(Tracer.GroupPrefix).toLong).getOrElse(0L)
  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanProp))).map(_.toLong).getOrElse(0L)

  private def charge(key: (Long, Long))(f: Counters => Unit): Unit = synchronized {
    f(perReq.getOrElseUpdate(key._1, new Counters))
    f(perSpan.getOrElseUpdate(key._2, new Counters))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val key = (reqOf(e.properties), spanOf(e.properties))
    jobKey(e.jobId) = key
    jobStart(e.jobId) = e.time
    // a stage listed by a later job too (a reused shuffle) stays with the
    // job that first listed it; the later job skips it
    e.stageIds.foreach { s => stageKey.getOrElseUpdate(s, key); stageSpan.getOrElseUpdate(s, key._2) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val key = synchronized(stageKey.getOrElse(e.stageId, (0L, 0L)))
    val sub = synchronized(stageSubmit.getOrElse(e.stageId, e.taskInfo.launchTime))
    val m = e.taskMetrics
    charge(key) { c =>
      c.tasks += 1
      c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - sub).toDouble
      if (m != null) {
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.recordsRead += m.inputMetrics.recordsRead
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
    if (m != null) synchronized {
      stageTaskMs.getOrElseUpdate(e.stageId, scala.collection.mutable.ArrayBuffer.empty) +=
        m.executorRunTime.toDouble
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (key, t0) = synchronized((jobKey.getOrElse(e.jobId, (0L, 0L)), jobStart.getOrElse(e.jobId, e.time)))
    charge(key)(_.jobs += 1)
    synchronized { reqJobs.getOrElseUpdate(key._1, scala.collection.mutable.ArrayBuffer.empty) += ((t0, e.time)) }
  }

  /** ms a request's jobs were running: the union of their intervals (the
    * jobs of one query can overlap). */
  def jobBusyMs(req: Long): Double = synchronized(Stats.unionLength(reqJobs.getOrElse(req, Nil).toSeq).toDouble)
}
