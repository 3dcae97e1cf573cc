package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IndexTable

class CompactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def parquetFiles(dir: String): Int = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
  }

  /** Generation dirs under the base zone that hold tenant `alias`. */
  private def genDirsFor(path: String, alias: String): Seq[java.io.File] = {
    val root = new java.io.File(s"$path/_graft_base")
    if (!root.isDirectory) Seq.empty
    else root.listFiles().toSeq.filter(g =>
      g.isDirectory && g.getName.startsWith("gen_") &&
        new java.io.File(g, s"index_alias=$alias").isDirectory)
  }

  private lazy val docs = spark.read
    .parquet(s"${TestSpark.sf}/documents.parquet")
    .select(concat_ws("/", $"source", $"doc_id").as("document_path"), $"text")

  test("compact drops stale upsert generations and shrinks the file count") {
    val path = java.nio.file.Files.createTempDirectory("compact_plain").toString + "/idx"
    // two full generations of the same documents -> every id has a stale copy
    IndexTable.append(IndexTable.ingestRecords(docs, "t", pageSize = 32), path)
    IndexTable.append(IndexTable.ingestRecords(docs, "t", pageSize = 32), path)
    val before = IndexTable.readLatest(spark, path, "t")
      .select($"id", $"page_content").as[(String, String)].collect().toSet
    val rawBefore = IndexTable.read(spark, path, "t").count()
    val filesBefore = parquetFiles(s"$path/index_alias=t")

    val survivors = IndexTable.compact(spark, path, "t")

    val after = IndexTable.readLatest(spark, path, "t")
      .select($"id", $"page_content").as[(String, String)].collect().toSet
    assert(after === before, "latest-per-id content must be unchanged")
    assert(survivors === before.size.toLong)
    assert(survivors < rawBefore, "stale generations must be physically dropped")
    assert(IndexTable.read(spark, path, "t").count() === survivors,
      "physical view after compaction must hold exactly the survivors")
    val gens = genDirsFor(path, "t")
    assert(gens.size === 1)
    assert(parquetFiles(gens.head.toString) < filesBefore)

    // folded delta files are retained for in-flight readers (default
    // retention window), then vacuumed once the window has passed
    assert(new java.io.File(s"$path/index_alias=t").exists(),
      "folded delta files are retained inside the retention window")
    IndexTable.vacuum(spark, path, "t", retainMillis = 0)
    assert(!new java.io.File(s"$path/index_alias=t").exists(),
      "superseded delta partition must be retired after the retention window")
    assert(IndexTable.readLatest(spark, path, "t")
      .select($"id", $"page_content").as[(String, String)].collect().toSet === before)
  }

  test("a delta appended after compact wins over the generation row") {
    val path = java.nio.file.Files.createTempDirectory("compact_overlay").toString + "/idx"
    IndexTable.append(IndexTable.ingestRecords(docs, "t", pageSize = 32), path)
    IndexTable.compact(spark, path, "t")
    val base = IndexTable.readLatest(spark, path, "t")
    val ids = base.select($"id").as[String].collect().toSet
    // re-ingest one document with mutated text: same row keys, new content
    val updated = docs.limit(1).withColumn("text", concat(lit("UPDATED "), $"text"))
    IndexTable.append(IndexTable.ingestRecords(updated, "t", pageSize = 32), path)
    val after = IndexTable.readLatest(spark, path, "t")
    assert(after.select($"id").as[String].collect().toSet === ids,
      "an upsert must not change the id set")
    assert(after.where($"page_content".startsWith("UPDATED")).count() >= 1,
      "the delta row must shadow its generation row")
    assert(after.count() === base.count())
  }

  test("a concurrent reader never observes a missing or doubled tenant during compaction") {
    val path = java.nio.file.Files.createTempDirectory("compact_race").toString + "/idx"
    IndexTable.append(IndexTable.ingestRecords(docs, "t", pageSize = 32), path)
    IndexTable.append(IndexTable.ingestRecords(docs, "t", pageSize = 32), path)
    val expected = IndexTable.readLatest(spark, path, "t").count()
    assert(expected > 0)

    val observed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get())
        observed.add(
          try IndexTable.readLatest(spark, path, "t").count()
          catch { case _: Throwable => -1L }) // a failed read is a violation too
    })
    reader.start()
    try {
      // several cycles so reads land inside the publish/retire sequence
      (1 to 3).foreach(_ => IndexTable.compact(spark, path, "t"))
    } finally {
      stop.set(true)
      reader.join(60000)
    }
    val counts = observed.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSeq
    assert(counts.nonEmpty, "reader thread never completed a read")
    assert(counts.forall(_ === expected),
      s"reader saw inconsistent counts: ${counts.distinct} (expected $expected)")
  }

  test("a crashed compaction is invisible to readers and cleaned by the next run") {
    val path = java.nio.file.Files.createTempDirectory("compact_crash").toString + "/idx"
    IndexTable.append(IndexTable.ingestRecords(docs, "t", pageSize = 32), path)
    IndexTable.append(IndexTable.ingestRecords(docs, "t", pageSize = 32), path)
    val before = IndexTable.readLatest(spark, path, "t")
      .select($"id", $"page_content").as[(String, String)].collect().toSet

    // Simulate a compaction that died mid-write: a generation dir with
    // tenant data but NO _SUCCESS marker (readers must ignore it).
    val partial = new java.io.File(s"$path/_graft_base/gen_999999999999999/index_alias=t")
    assert(partial.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(partial, "part-corrupt.parquet").toPath,
      Array[Byte](1, 2, 3))

    val mid = IndexTable.readLatest(spark, path, "t")
      .select($"id", $"page_content").as[(String, String)].collect().toSet
    assert(mid === before, "partial generation must be invisible to readers")

    val survivors = IndexTable.compact(spark, path, "t", retainMillis = 0)
    assert(survivors === before.size.toLong)
    assert(!partial.getParentFile.exists(),
      "crashed-compaction debris must be removed by the next compaction")
    val after = IndexTable.readLatest(spark, path, "t")
      .select($"id", $"page_content").as[(String, String)].collect().toSet
    assert(after === before)
  }

  test("repeated compaction with an expired retention window keeps exactly one generation") {
    val path = java.nio.file.Files.createTempDirectory("compact_gens").toString + "/idx"
    IndexTable.append(IndexTable.ingestRecords(docs, "t", pageSize = 32), path)
    (1 to 3).foreach { _ =>
      IndexTable.append(IndexTable.ingestRecords(
        docs.limit(5), "t", pageSize = 32), path)
      IndexTable.compact(spark, path, "t", retainMillis = 0)
    }
    val gens = genDirsFor(path, "t")
    assert(gens.size === 1, s"generations must not accumulate: ${gens.map(_.getName)}")
    // and the newest generation alone carries the full resolved content
    val expected = IndexTable.readLatest(spark, path, "t").count()
    assert(IndexTable.read(spark, path, "t").count() === expected)
  }

  test("committed generations are time-travel snapshots until vacuumed") {
    val path = java.nio.file.Files.createTempDirectory("compact_travel").toString + "/idx"
    IndexTable.append(IndexTable.ingestRecords(docs, "t", pageSize = 32), path)
    IndexTable.compact(spark, path, "t") // gen A = folded v1 state
    val Seq(genA) = IndexTable.generations(spark, path, "t")
    val stateA = IndexTable.readLatest(spark, path, "t")
      .select($"id", $"page_content").as[(String, String)].collect().toSet

    // overwrite every document (same paths -> same ids, new content), fold
    val docs2 = docs.withColumn("text", concat($"text", lit(" updatedv2")))
    IndexTable.append(IndexTable.ingestRecords(docs2, "t", pageSize = 32), path)
    IndexTable.compact(spark, path, "t") // gen B
    val gensNow = IndexTable.generations(spark, path, "t")
    assert(gensNow.size === 2 && gensNow.last === genA && gensNow.head > genA,
      "catalog must list both committed generations, newest first")

    // as-of A: exactly the pre-overwrite content; current view: the v2 text
    val travel = IndexTable.readGeneration(spark, path, "t", genA)
      .select($"id", $"page_content").as[(String, String)].collect().toSet
    assert(travel === stateA)
    val current = IndexTable.readLatest(spark, path, "t")
      .select($"page_content").as[String].collect()
    assert(current.exists(_.contains("updatedv2")) && travel != current.toSet)

    intercept[IllegalArgumentException] {
      IndexTable.readGeneration(spark, path, "t", 12345L)
    }

    // vacuum past retention retires gen A: catalog shrinks, as-of A throws
    IndexTable.vacuum(spark, path, "t", retainMillis = 0)
    assert(IndexTable.generations(spark, path, "t") === Seq(gensNow.head))
    intercept[IllegalArgumentException] {
      IndexTable.readGeneration(spark, path, "t", genA)
    }
  }

  test("two committed generations sharing an id list it once, and reading it throws") {
    val path = java.nio.file.Files.createTempDirectory("compact_shared_id").toString + "/idx"
    IndexTable.append(IndexTable.ingestRecords(docs.limit(5), "t", pageSize = 32), path)
    IndexTable.compact(spark, path, "t")
    val Seq(id) = IndexTable.generations(spark, path, "t")
    assert(IndexTable.readGeneration(spark, path, "t", id).count() > 0)
    // a second writer's generation with the same id, commit marker included
    val Seq(gen) = genDirsFor(path, "t")
    val twin = new java.io.File(gen.getParentFile, s"gen_${id}_ffffffffffffffff")
    org.apache.commons.io.FileUtils.copyDirectory(gen, twin)
    assert(new java.io.File(twin, "_graft_committed").isFile)
    assert(IndexTable.generations(spark, path, "t") === Seq(id))
    val ex = intercept[IllegalArgumentException] {
      IndexTable.readGeneration(spark, path, "t", id)
    }
    assert(ex.getMessage.contains(gen.getName) && ex.getMessage.contains(twin.getName),
      ex.getMessage)
  }

  test("tombstone delete: masks immediately, un-deletes on re-ingest, forgotten after compact+vacuum") {
    val path = java.nio.file.Files.createTempDirectory("compact_del").toString + "/idx"
    IndexTable.append(IndexTable.ingestRecords(docs, "t", pageSize = 32), path)
    val all = IndexTable.readLatest(spark, path, "t")
      .select($"id").as[String].collect().toSet
    val victims = all.toSeq.sorted.take(3)

    IndexTable.delete(spark, path, "t", victims)
    val served = IndexTable.readLatest(spark, path, "t")
      .select($"id").as[String].collect().toSet
    assert(served === all -- victims, "deleted ids must vanish from latest reads")
    // the serving schema is unchanged: no tombstone flag leaks out
    assert(!IndexTable.readLatest(spark, path, "t").columns.contains("is_deleted"))

    // a LATER re-ingest un-deletes (one last-write-wins total order)
    val back = victims.head
    val backPath = IndexTable.read(spark, path, "t")
      .where($"id" === back && !coalesce($"is_deleted", lit(false)))
      .select($"document_path").as[String].head()
    IndexTable.append(IndexTable.ingestRecords(
      docs.where($"document_path" === backPath), "t", pageSize = 32), path)
    val served2 = IndexTable.readLatest(spark, path, "t")
      .select($"id").as[String].collect().toSet
    assert(served2.contains(back))
    assert((victims.toSet - back).forall(!served2.contains(_)))

    // compact + zero-retention vacuum: the two still-deleted ids are gone
    // from EVERY byte on disk, not just from view. After vacuum(0) the only
    // bytes left are the single committed generation (physical view reads
    // it) and an empty delta zone — so physical-view absence IS disk absence.
    IndexTable.compact(spark, path, "t", retainMillis = 0L)
    val physical = IndexTable.read(spark, path, "t")
      .select($"id").as[String].collect().toSet
    assert((victims.toSet - back).forall(!physical.contains(_)),
      "forgotten ids must not survive anywhere on disk")
    assert(physical.contains(back))
    assert(genDirsFor(path, "t").size === 1, "exactly one generation remains")
    assert(parquetFiles(s"$path/index_alias=t") === 0,
      "no delta files (tombstone or data) survive the zero-retention vacuum")
  }

  test("a tenant whose every row is deleted compacts to an empty generation and leaves no byte behind") {
    val path = java.nio.file.Files.createTempDirectory("compact_empty").toString + "/idx"
    val doc = Seq(("gone/doc", "the only document")).toDF("document_path", "text")
    IndexTable.append(IndexTable.ingestRecords(doc, "t", pageSize = 32), path)
    val ids = IndexTable.read(spark, path, "t").select($"id").as[String].collect().toSeq
    IndexTable.delete(spark, path, "t", ids)
    assert(IndexTable.compact(spark, path, "t", retainMillis = 0L) === 0L)
    assert(IndexTable.read(spark, path, "t").count() === 0L,
      "the superseded rows and the tombstones must be retired")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val holders = walk(new java.io.File(path)).filter(_.getName.endsWith(".parquet"))
      .filter(f => spark.read.parquet(f.toString).where($"id".isin(ids: _*)).count() > 0)
    assert(holders.isEmpty, s"deleted id still on disk in ${holders.mkString(", ")}")
    // the emptied tenant still takes writes
    IndexTable.append(IndexTable.ingestRecords(
      Seq(("new/doc", "a later document")).toDF("document_path", "text"), "t", pageSize = 32), path)
    assert(IndexTable.readLatest(spark, path, "t").select($"page_content").as[String]
      .collect().toSeq === Seq("a later document"))
    IndexTable.compact(spark, path, "t", retainMillis = 0L)
    assert(IndexTable.read(spark, path, "t").select($"page_content").as[String]
      .collect().toSeq === Seq("a later document"))
  }

  test("an append stamped before a compaction but landing after it wins over the generation row") {
    val path = java.nio.file.Files.createTempDirectory("compact_stamp_race").toString + "/idx"
    val doc = Seq(("race/doc", "version one")).toDF("document_path", "text")
    IndexTable.append(IndexTable.ingestRecords(doc, "t", pageSize = 32), path)
    // the interleaving two threads produce: the writer takes its stamp,
    // a compaction lists and folds the tenant, then the writer's files land
    val stamp = IndexTable.nextIngestSeq()
    IndexTable.compact(spark, path, "t")
    IndexTable.append(IndexTable.ingestRecords(
        doc.withColumn("text", lit("version two")), "t", pageSize = 32)
      .withColumn("ingest_seq", lit(stamp)), path)
    def served: Seq[String] = IndexTable.readLatest(spark, path, "t")
      .select($"page_content").as[String].collect().toSeq
    assert(served === Seq("version two"), "the later write must be visible")
    IndexTable.compact(spark, path, "t")
    assert(served === Seq("version two"), "and must survive the next compaction")
  }

  test("a write stamped before a delete stays masked after the delete is compacted") {
    val path = java.nio.file.Files.createTempDirectory("compact_tomb_race").toString + "/idx"
    val doc = Seq(("race/gone", "version one")).toDF("document_path", "text")
    IndexTable.append(IndexTable.ingestRecords(
      doc.union(Seq(("race/kept", "kept")).toDF("document_path", "text")), "t",
      pageSize = 32), path)
    // a writer takes its stamp, the doc is deleted, a compaction folds the
    // tombstone, then the writer's files land
    val stamp = IndexTable.nextIngestSeq()
    IndexTable.delete(spark, path, "t", IndexTable.read(spark, path, "t")
      .where($"document_path" === "race/gone").select($"id").as[String].collect().toSeq)
    IndexTable.compact(spark, path, "t")
    IndexTable.append(IndexTable.ingestRecords(
        doc.withColumn("text", lit("version two")), "t", pageSize = 32)
      .withColumn("ingest_seq", lit(stamp)), path)
    def served: Seq[String] = IndexTable.readLatest(spark, path, "t")
      .select($"page_content").as[String].collect().toSeq
    assert(served === Seq("kept"), "the delete is the later write")
    IndexTable.compact(spark, path, "t")
    assert(served === Seq("kept"), "and stays so through the next compaction")
    // zero retention forgets the tombstone and the row it masks
    IndexTable.compact(spark, path, "t", retainMillis = 0L)
    assert(IndexTable.read(spark, path, "t").select($"page_content").as[String]
      .collect().toSeq === Seq("kept"))
  }

  test("the rows a compaction writes are the driver-side resolution, retained " +
      "tombstones and earlier-stamped stragglers included") {
    val path = java.nio.file.Files.createTempDirectory("compact_rows").toString + "/idx"
    def doc(p: String, t: String) =
      IndexTable.ingestRecords(Seq((p, t)).toDF("document_path", "text"), "t", pageSize = 32)
    Seq("a" -> "alpha one", "b" -> "bravo one", "c" -> "charlie one", "d" -> "delta one")
      .foreach { case (p, t) => IndexTable.append(doc(s"$p/doc", t), path) }
    IndexTable.compact(spark, path, "t")
    // a straggling writer takes its stamp, later writes land, then its rows do
    val stamp = IndexTable.nextIngestSeq()
    IndexTable.append(doc("a/doc", "alpha two"), path)
    IndexTable.delete(spark, path, "t", IndexTable.read(spark, path, "t")
      .where($"document_path" === "b/doc").select($"id").as[String].collect().toSeq)
    IndexTable.append(doc("e/doc", "echo one"), path)
    Seq("a" -> "alpha stale", "b" -> "bravo stale", "c" -> "charlie two").foreach {
      case (p, t) =>
        IndexTable.append(doc(s"$p/doc", t).withColumn("ingest_seq", lit(stamp)), path)
    }
    def rows: Set[(String, Long, Boolean, String)] = IndexTable.read(spark, path, "t")
      .select($"id", $"ingest_seq", coalesce($"is_deleted", lit(false)), $"page_content")
      .as[(String, Long, Boolean, String)].collect().toSet
    // newest stamp, then tombstone, then content ascending
    val expected = rows.groupBy(_._1).values
      .map(_.toSeq.sortBy(r => (-r._2, !r._3, Option(r._4).getOrElse(""))).head).toSet
    IndexTable.compact(spark, path, "t")
    // the new generation folded every delta file: the physical rows are its rows
    val written = rows
    assert(written === expected)
    assert(written.map(r => Option(r._4).getOrElse("<tombstone>")) ===
      Set("alpha two", "<tombstone>", "charlie two", "delta one", "echo one"))
  }

  test("rows with the same id and stamp resolve to one winner at any input partitioning") {
    // one batch holding the same document twice: every row gets the same
    // id and the same stamp, so only the tie-break can pick the winner
    val batch = "hgfedcba".map(c => ("dup/doc", s"copy $c")).toDF("document_path", "text")
    def resolve(partitions: Int): (Seq[String], Seq[String]) = {
      val path = java.nio.file.Files
        .createTempDirectory(s"compact_tie_$partitions").toString + "/idx"
      val records = IndexTable.ingestRecords(batch, "t", pageSize = 32)
      IndexTable.append(
        if (partitions == 1) records.coalesce(1)
        else records.repartitionByRange(partitions, $"page_content"), path)
      assert(IndexTable.read(spark, path, "t").rdd.getNumPartitions === partitions)
      def served: Seq[String] = IndexTable.readLatest(spark, path, "t")
        .select($"page_content").as[String].collect().toSeq
      val beforeCompact = served
      IndexTable.compact(spark, path, "t")
      (beforeCompact, served)
    }
    val expected = (Seq("copy a"), Seq("copy a"))
    // an open cost as large as a split keeps Spark from packing the small
    // files together: each file is read as its own input partition
    val openCost = "spark.sql.files.openCostInBytes"
    val before = spark.conf.getOption(openCost)
    spark.conf.set(openCost, spark.conf.get("spark.sql.files.maxPartitionBytes"))
    try {
      assert(resolve(1) === expected)
      assert(resolve(8) === expected)
    } finally before.fold(spark.conf.unset(openCost))(spark.conf.set(openCost, _))
  }

  /** Jobs started by `f` on this thread, and its value. */
  private def jobsOf[A](f: => A): (Int, A) = {
    val group = s"compact-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    val value = try f finally {
      sc.clearJobGroup()
      org.apache.spark.ListenerDrain.drain(sc)
      sc.removeSparkListener(listener)
    }
    (jobs.get, value)
  }

  test("a compaction returns the readLatest count, counted as it writes") {
    val path = java.nio.file.Files.createTempDirectory("compact_count").toString + "/idx"
    IndexTable.append(IndexTable.ingestRecords(docs, "t", pageSize = 32), path)
    IndexTable.compact(spark, path, "t")
    IndexTable.append(IndexTable.ingestRecords(
      docs.limit(3).withColumn("text", upper($"text")), "t", pageSize = 32), path)
    IndexTable.delete(spark, path, "t",
      IndexTable.readLatest(spark, path, "t").select($"id").as[String].collect().sorted.take(4))
    val expected = IndexTable.readLatest(spark, path, "t").count()
    val (jobs, survivors) = jobsOf(IndexTable.compact(spark, path, "t"))
    assert(survivors === expected)
    assert(IndexTable.readLatest(spark, path, "t").count() === expected)
    // the broadcast of the delta ids, the window's shuffle stage and the
    // write; reading the generation back to count it took 2 jobs more
    assert(jobs === 3)
  }

  test("two compactions whose listings straddle a write keep every live row through " +
      "vacuum(0)") {
    val root = java.nio.file.Files.createTempDirectory("compact_straddle")
    val (path, copy) = (s"$root/idx", s"$root/copy/idx")
    def doc(p: String) = IndexTable.ingestRecords(
      Seq((p, s"the text of $p")).toDF("document_path", "text"), "t", pageSize = 32)
    IndexTable.append(doc("a"), path)
    IndexTable.append(doc("b"), path)
    IndexTable.compact(spark, path, "t")
    IndexTable.append(doc("x"), path)
    // compactor A lists the tenant: it compacts the index as it stands now
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(path), new java.io.File(copy))
    // then y lands, and compactor B lists, folds y and commits first
    IndexTable.append(doc("y"), path)
    IndexTable.compact(spark, path, "t")
    // A commits last, so its generation, which lacks y, is the newest
    IndexTable.compact(spark, copy, "t")
    val genA = genDirsFor(copy, "t").map(_.getName).max
    java.nio.file.Files.move(java.nio.file.Paths.get(copy, "_graft_base", genA),
      java.nio.file.Paths.get(path, "_graft_base", genA))
    IndexTable.drop(spark, copy)
    assert(genDirsFor(path, "t").size === 3)
    assert(IndexTable.generations(spark, path, "t").head ===
      genA.stripPrefix("gen_").takeWhile(_ != '_').toLong)
    def served: Set[String] = IndexTable.readLatest(spark, path, "t")
      .select($"document_path").as[String].collect().toSet
    assert(served === Set("a", "b", "x", "y"))
    IndexTable.vacuum(spark, path, "t", retainMillis = 0)
    assert(served === Set("a", "b", "x", "y"), "vacuum deleted a row the newest generation lacks")
    assert(new GraftVectorStore(spark, path).search("the text of y", "t", topN = 4)
      .select($"document_path").as[String].collect().toSet === Set("a", "b", "x", "y"))
    // the next compaction folds y into a generation of its own
    IndexTable.compact(spark, path, "t", retainMillis = 0)
    assert(served === Set("a", "b", "x", "y"))
    assert(genDirsFor(path, "t").size === 1)
    IndexTable.drop(spark, path)
  }

  test("generation names are unique per compaction and order by id, then suffix") {
    val path = java.nio.file.Files.createTempDirectory("compact_names").toString + "/idx"
    IndexTable.append(IndexTable.ingestRecords(docs.limit(2), "t", pageSize = 32), path)
    (1 to 3).foreach(_ => IndexTable.compact(spark, path, "t"))
    val names = genDirsFor(path, "t").map(_.getName)
    assert(names.forall(_.matches("gen_[0-9]+_[0-9a-f]{16}")), names)
    assert(names.distinct.size === 3)
    // a second writer's generation with the same id sorts by its suffix
    val newest = names.max
    val twin = s"gen_${newest.stripPrefix("gen_").takeWhile(_ != '_')}_ffffffffffffffff"
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(s"$path/_graft_base/$newest"),
      new java.io.File(s"$path/_graft_base/$twin"))
    IndexTable.append(IndexTable.ingestRecords(
      Seq(("twin/doc", "only in the twin")).toDF("document_path", "text"), "t", pageSize = 32),
      s"$path/_graft_base/$twin")
    assert(IndexTable.readLatest(spark, path, "t").where($"document_path" === "twin/doc")
      .count() === 1L)
    IndexTable.drop(spark, path)
  }
}
