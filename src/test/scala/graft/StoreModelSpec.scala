package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IndexTable

/** Model-based property spec of the store's HSET contract: seeded random
  * interleavings of append, upsert, delete, compact and vacuum from two
  * store instances (two sessions) over one path, checked after every step
  * against a driver-side last-write-wins map.
  *
  * A writer takes its stamp when it plans its write, and its files may land
  * after later writes and compactions. The spec reaches those orders
  * deterministically: every step takes a stamp into a pool, and a stale
  * write lands with a stamp from the pool, in records that already carry
  * `ingest_seq`. Every doc is one page, so a doc path is one id.
  *
  * Every step reads twice through the same instance: the first read of a
  * new file set plans over freshly read relations, the second reuses them.
  * It also searches every live row of both instances, cold and warm:
  * first the instance whose serving view is cached, so a write folds into
  * that view and a compaction by that instance re-keys it, then the other,
  * which rebuilds the view and leaves its own cached for the next step.
  * One query repeats at every step, so a view kept across a step (after a
  * vacuum, or re-keyed by a compaction) answers it from its memo; it must
  * equal the top k planned over `readLatest`.
  *
  * Some steps run two compactions whose listings straddle a write: one
  * compacts a copy of the index taken before the write, the other the index
  * after it; the copy's generation, which lacks the write, commits last and
  * is moved into the index, and `vacuum(0)` follows. */
class StoreModelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Alias = "t"

  /** How often each case of the serving view was met, over all seeds. */
  private val reached = mutable.Map.empty[String, Int].withDefaultValue(0)

  private def frame(s: SparkSession, docs: Seq[(String, String)]): DataFrame =
    s.createDataFrame(docs).toDF("document_path", "text")

  /** The query every step repeats, and its top k. */
  private val Probe = "m words version"
  private val ProbeK = 3

  private def run(seed: Int, steps: Int): Unit = {
    val rng = new scala.util.Random(seed)
    val root = java.nio.file.Files.createTempDirectory(s"store_model_$seed").toString
    val path = s"$root/idx"
    val sessions = Seq(spark, spark.newSession())
    val stores = sessions.map(new GraftVectorStore(_, path))
    // doc path -> (stamp key, text; None for a tombstone). Stamp keys are
    // doubled stamps: a write through the facade takes its stamp inside
    // the call, so it gets the odd key just above the stamp taken before it
    val model = mutable.Map.empty[String, (Long, Option[String])]
    val pool = mutable.ArrayBuffer.empty[Long]
    var version = 0
    var next = 0
    val log = mutable.ArrayBuffer.empty[String]

    def merge(p: String, key: Long, text: Option[String]): Unit =
      if (model.get(p).forall(_._1 < key)) model(p) = (key, text)
    def facade(write: => Unit): Long = {
      val before = IndexTable.nextIngestSeq()
      write
      2 * before + 1
    }
    def staleStamp(): Long = pool.remove(rng.nextInt(pool.size))
    def live: Seq[String] = model.collect { case (p, (_, Some(_))) => p }.toSeq.sorted
    def pick(from: Seq[String], n: Int): Seq[String] =
      rng.shuffle(from).take(math.min(n, from.size))

    def write(i: Int, paths: Seq[String], op: String): Unit = {
      val docs = paths.map { p => version += 1; (p, s"$p version $version words") }
      if (rng.nextBoolean()) {
        val key = facade(stores(i).addDocuments(frame(sessions(i), docs), Alias, pageSize = 32))
        docs.foreach { case (p, t) => merge(p, key, Some(t)) }
        log += s"$op via store $i: ${paths.mkString(",")}"
      } else {
        val stamp = staleStamp()
        IndexTable.append(IndexTable.ingestRecords(frame(sessions(i), docs), Alias, pageSize = 32)
          .withColumn("ingest_seq", lit(stamp)), path)
        docs.foreach { case (p, t) => merge(p, 2 * stamp, Some(t)) }
        log += s"stale $op via store $i: ${paths.mkString(",")}"
      }
    }

    def delete(i: Int): Unit =
      if (rng.nextBoolean() && live.nonEmpty) {
        // the facade tombstones the doc's physical rows; a live doc has some
        val paths = pick(live, 2)
        val key = facade(stores(i).deleteDocuments(paths, Alias))
        paths.foreach(merge(_, key, None))
        log += s"delete via store $i: ${paths.mkString(",")}"
      } else if (model.nonEmpty) {
        val paths = pick(model.keys.toSeq.sorted, 2)
        val stamp = staleStamp()
        IndexTable.append(frame(sessions(i), paths.map((_, "")))
          .select(sha1(concat_ws("_", col("document_path"), lit(0))).as("id"))
          .withColumn("index_alias", lit(Alias))
          .withColumn("document_path", lit(null).cast("string"))
          .withColumn("page_number", lit(null).cast("int"))
          .withColumn("page_content", lit(null).cast("string"))
          .withColumn("page_content_vector", lit(null).cast("array<float>"))
          .withColumn("ingest_seq", lit(stamp))
          .withColumn("is_deleted", lit(true)), path)
        paths.foreach(merge(_, 2 * stamp, None))
        log += s"stale delete via store $i: ${paths.mkString(",")}"
      }

    // the instance whose serving view is cached, and that view at the end
    // of the last check
    var cached = 0
    var lastView = -1
    def servingId(): Int = IndexTable.serving(sessions(cached), path, Alias)(_.rows.id)

    /** Compactions by store `i` and by a copy of the index taken before a
      * write by the other store; the copy's generation commits last. */
    def straddle(i: Int, step: Int): Unit = {
      val copy = s"$root/copy_$step/idx"
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(path), new java.io.File(copy))
      write(1 - i, Seq.fill(1) { next += 1; s"m/$next" } ++ pick(model.keys.toSeq.sorted, 1),
        "write")
      stores(i).compactIndex(Alias)
      IndexTable.compact(sessions(1 - i), copy, Alias)
      val gens = new java.io.File(s"$copy/_graft_base").listFiles().map(_.getName)
        .filter(_.startsWith("gen_"))
      // the copy's newest generation: the highest id, then suffix
      val newest = gens.maxBy(g => (g.stripPrefix("gen_").takeWhile(_ != '_').toLong, g))
      java.nio.file.Files.move(java.nio.file.Paths.get(copy, "_graft_base", newest),
        java.nio.file.Paths.get(path, "_graft_base", newest))
      IndexTable.drop(sessions(1 - i), copy)
      assert(IndexTable.generations(sessions(i), path, Alias).head ===
        newest.stripPrefix("gen_").takeWhile(_ != '_').toLong)
      stores(i).vacuumIndex(Alias, 0L)
      log += s"overlapping compactions via store $i and a copy, then vacuum(0)"
      reached("overlapping compactions, then vacuum(0)") += 1
    }

    def check(i: Int, step: Int): Unit = {
      val expected = model.collect { case (p, (_, Some(t))) => (p, t) }.toSeq.sorted
      def ops = s"ops:\n${log.mkString("\n")}"
      Seq("cold", "warm").foreach { read =>
        val served = IndexTable.readLatest(sessions(i), path, Alias)
          .select(col("document_path"), col("page_content")).collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
        assert(served === expected, s"seed $seed step $step, $read read via store $i; $ops")
      }
      if (servingId() == lastView) reached("a repeated query over a kept view") += 1
      Seq(cached, 1 - cached).foreach { j =>
        Seq("cold", "warm").foreach { read =>
          val served = stores(j).search("version words", Alias, topN = expected.size + 1)
            .select(col("document_path"), col("page_content")).collect()
            .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
          assert(served === expected, s"seed $seed step $step, $read search via store $j; $ops")
          val probed = stores(j).search(Probe, Alias, topN = ProbeK).collect().toSeq
          val planned = graft.operators.KnnSearch.hitProjection(graft.operators.KnnSearch.topK(
            IndexTable.readLatest(sessions(j), path, Alias),
            graft.functions.Embedder.embedQuery(Probe), ProbeK)).collect().toSeq
          assert(probed === planned, s"seed $seed step $step, $read probe via store $j; $ops")
        }
      }
      cached = 1 - cached
      lastView = servingId()
    }

    pool += IndexTable.nextIngestSeq()
    write(0, Seq.fill(3) { next += 1; s"m/$next" }, "append")
    check(0, 0)
    (1 to steps).foreach { step =>
      val i = rng.nextInt(2)
      pool += IndexTable.nextIngestSeq()
      val logged = log.size
      rng.nextInt(20) match {
        case n if n < 6 => write(i, Seq.fill(1 + rng.nextInt(2)) { next += 1; s"m/$next" }, "append")
        case n if n < 11 => write(i, pick(model.keys.toSeq.sorted, 2), "upsert")
        case n if n < 15 => delete(i)
        case 15 => straddle(i, step)
        case n if n < 18 =>
          val retain = if (rng.nextBoolean()) 0L else IndexTable.DefaultRetainMillis
          val view = servingId()
          stores(i).compactIndex(Alias, retain)
          // zero retention retires the tombstones it folds at once: their
          // ids leave the store, and a later write to them stands alone
          if (retain == 0L) model.filterInPlace { case (_, (_, t)) => t.nonEmpty }
          log += s"compact via store $i, retain $retain"
          // the compacting instance's own view moves to the new generation;
          // the other instance's view is rebuilt, not folded
          if (i == cached) {
            assert(servingId() === view, s"seed $seed step $step: the view was not re-keyed")
            reached(if (retain == 0L) "compaction of a cached view, then vacuum(0)"
              else "compaction of a cached view") += 1
          } else {
            assert(servingId() !== view, s"seed $seed step $step: the view was not rebuilt")
            reached("compaction by the other instance") += 1
          }
        case _ =>
          val retain = if (rng.nextBoolean()) 0L else IndexTable.DefaultRetainMillis
          stores(i).vacuumIndex(Alias, retain)
          log += s"vacuum via store $i, retain $retain"
      }
      if (pool.isEmpty) pool += IndexTable.nextIngestSeq()
      // a write straddled by compactions is not folded onto the cached view
      val ops = log.drop(logged)
      if (!ops.exists(_.startsWith("overlapping"))) ops.foreach { op =>
        if (op.startsWith("stale ")) reached("stale-stamp write onto a cached view") += 1
        else if (!op.startsWith("compact") && !op.startsWith("vacuum"))
          reached("write onto a cached view") += 1
      }
      check(i, step)
    }
    stores(0).dropIndex()
  }

  test("random interleavings from two store instances read as a last-write-wins map") {
    Seq(1, 2, 3).foreach(run(_, steps = 12))
    Seq("write onto a cached view", "stale-stamp write onto a cached view",
      "compaction of a cached view, then vacuum(0)", "compaction by the other instance",
      "overlapping compactions, then vacuum(0)", "a repeated query over a kept view")
      .foreach(c => assert(reached(c) > 0, s"no step reached: $c; reached $reached"))
  }
}
