package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.functions.{Embedder, TextFunctions}

/** The index table — Spark-native replacement for the reference's Redis
  * vector index (schema declared at reference `modules/utilities.py:269-278`,
  * records written at `:297-329`): a Parquet table partitioned by
  * `index_alias` (the reference's key-prefix namespace,
  * `modules/utilities.py:284-287`), so per-tenant queries get partition
  * pruning instead of key-prefix routing.
  *
  * Scale design: at 100 TB the table is append-only parquet; `index_alias`
  * partitioning bounds every query to one tenant's files; within a tenant the
  * scan is embarrassingly parallel and the KNN top-k (see [[KnnSearch]]) is
  * a narrow map + per-partition partial top-k, no shuffle.
  */
object IndexTable {

  /** Declared schema — mirrors the Redis index DDL fields
    * (`modules/utilities.py:269-278`) + id + namespace. */
  val schema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("index_alias", StringType),
    StructField("document_path", StringType),
    StructField("page_number", IntegerType),
    StructField("page_content", StringType),
    StructField("page_content_vector", ArrayType(FloatType)),
    // ingest generation stamp (monotonic per append) — powers the
    // HSET-last-write-wins upsert semantics of readLatest.
    StructField("ingest_seq", LongType),
    // tombstone flag ([[deleteRecords]]): a true row with the newest
    // ingest_seq masks its id from every latest read; compaction drops the
    // masked rows physically and vacuum retires the files that held them.
    StructField("is_deleted", BooleanType)))

  /** D2: existence probe (reference `checkRedisIndexExists`,
    * `modules/utilities.py:232-240`). */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** D1: idempotent create (reference `createRedisIndex`,
    * `modules/utilities.py:259-295` incl. the exists-guard at `:266,288`). */
  def create(spark: SparkSession, path: String): Unit =
    if (!exists(spark, path)) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.partitionBy("index_alias").parquet(path)
    }

  /** D3: drop (reference `dropRedisIndex`, `modules/utilities.py:242-251` —
    * there it keeps the documents; here the parquet IS the index, so drop
    * removes the path, and the relations read from it). */
  def drop(spark: SparkSession, path: String): Unit = {
    relations.keySet.forEach(k => if (k._1 == path) release(k._1, k._2, k._3))
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** D4: optional tenant-name encryption — sha1 hex of the alias (reference
    * `encode`, `modules/utilities.py:98-99`, applied at `:263-264` etc). */
  def encodeAlias(alias: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1")
    d.digest(alias.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** E1 ingestion chain (reference `app/app.py:130-190` upload flow):
    * documents(document_path, text) -> 300-word chunk -> cleanse -> non-empty
    * filter -> embed the CLEANSED text but store the ORIGINAL page content
    * (reference keeps raw formatting, `modules/utilities.py:204` vs embed
    * input `:200`) -> sha1 row key (`modules/utilities.py:344`).
    *
    * One lazy narrow pipeline; the reference's two per-page network loops
    * (OpenAI call per page, HSET per page) become executor-local columnar
    * work. */
  def ingestRecords(docs: DataFrame, alias: String,
                    model: String = graft.core.ModelRegistry.default,
                    seed: Int = Embedder.DefaultSeed,
                    pageSize: Int = Chunker.DefaultPageSize,
                    // None = the default murmur hashing-trick embedder;
                    // Some(f) swaps the document-side embedding column
                    // function (the model-registry swap a deployment makes
                    // when it changes embedding models — and the hook the
                    // hash-gated store queries use to plug the portable
                    // md5 twin in)
                    embed: Option[org.apache.spark.sql.Column =>
                      org.apache.spark.sql.Column] = None): DataFrame = {
    val chunked = Chunker.chunk(docs.select("document_path", "text"), "text", pageSize)
    val embedFn = embed.getOrElse((c: org.apache.spark.sql.Column) =>
      Embedder.embedCol(c, model, seed))
    chunked
      .withColumn("page_content_cleansed", TextFunctions.cleanseText(col("page_content")))
      .where(TextFunctions.nonEmpty(col("page_content_cleansed")))
      .withColumn("page_content_vector", embedFn(col("page_content_cleansed")))
      .withColumn("id", sha1(concat_ws("_", col("document_path"), col("page_number"))))
      .withColumn("index_alias", lit(alias))
      .select("id", "index_alias", "document_path", "page_number", "page_content",
        "page_content_vector")
  }

  /** K1/K2: append records, stamped with a monotonically increasing ingest
    * generation so Redis-HSET upsert semantics (last write wins by key) can
    * be realized on read via [[readLatest]]. */
  private val ingestCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The next ingest stamp: millis << 10 + per-process counter, strictly
    * increasing even for appends within the same millisecond. */
  private[graft] def nextIngestSeq(): Long =
    (System.currentTimeMillis() << 10) | (ingestCounter.incrementAndGet() & 0x3ff)

  /** Stamp records that carry no `ingest_seq` yet; records that already
    * carry one (a compacted generation's rows) keep their own. */
  private def stampIngest(records: DataFrame): DataFrame = {
    val stamped =
      if (records.columns.contains("ingest_seq")) records
      else records.withColumn("ingest_seq", lit(nextIngestSeq()))
    // every written file carries the tombstone column, so no file reads it
    // as null under the declared schema
    if (stamped.columns.contains("is_deleted")) stamped
    else stamped.withColumn("is_deleted", lit(false))
  }

  /** Tombstone delete — the "right to be forgotten" path. Appends a
    * `is_deleted = true` row per id with a fresh ingest stamp: every
    * latest read masks the id immediately (same last-write-wins resolution
    * as an upsert, so a LATER re-ingest of the id un-deletes it);
    * [[compact]] drops masked rows physically and [[vacuum]] retires the
    * files that held them once the retention window passes — after which
    * the data is gone from disk, not just from view.
    *
    * Scale shape: a delete of N ids writes N tiny rows — no read, no join,
    * no rewrite at delete time (deletion cost is deferred to the next
    * compaction, which was already rewriting the tenant). A null id names
    * no record and is dropped. */
  def deleteRecords(ids: DataFrame, path: String, alias: String): Unit =
    append(ids.select(col(ids.columns.head).cast("string").as("id")).where(col("id").isNotNull)
      .withColumn("index_alias", lit(alias))
      .withColumn("document_path", lit(null).cast("string"))
      .withColumn("page_number", lit(null).cast("int"))
      .withColumn("page_content", lit(null).cast("string"))
      .withColumn("page_content_vector", lit(null).cast("array<float>"))
      .withColumn("is_deleted", lit(true)), path)

  /** [[deleteRecords]] for a driver-side id list. */
  def delete(spark: SparkSession, path: String, alias: String,
             ids: Seq[String]): Unit = {
    import spark.implicits._
    deleteRecords(ids.toDF("id"), path, alias)
  }

  def append(records: DataFrame, path: String): Unit =
    stampIngest(records)
      .write.mode(SaveMode.Append).partitionBy("index_alias").parquet(path)

  // ---------------- compaction: generation zone + folded-delta manifest ----

  /** Base-zone root: compacted generations live under an underscore-prefixed
    * dir INSIDE the index path, so raw parquet scans of `path` never see
    * them and `drop` removes everything. Each compaction writes one whole
    * new generation dir `gen_<id>_<suffix>` (exactly one tenant per
    * generation) holding:
    *
    *   - `index_alias=<a>/...` — the tenant's resolved rows (Spark-written,
    *     each row keeping its own `ingest_seq`);
    *   - `_folded_deltas` — manifest of the delta-zone files whose rows were
    *     folded into this generation (paths relative to the index root);
    *   - `_graft_committed` — the commit marker, created LAST. A generation
    *     without it is invisible to every reader.
    *
    * `id` increases within a process (millis << 10 | counter), and `suffix`
    * is random per generation, so two processes compacting in the same
    * millisecond never write into one directory. Generations order by `id`,
    * then by `suffix`.
    *
    * Readers pick, per tenant, the newest committed generation in that order
    * and union it with the delta files NOT named in its manifest. Nothing live
    * is ever renamed or deleted at publish time: folded delta files stay on
    * disk (excluded via the manifest) until the NEXT generation is
    * published, and the previous generation is likewise retained for one
    * cycle — so an in-flight reader's snapshot (its file list) stays
    * readable for a full compaction cycle after it is superseded. A crash
    * at ANY point leaves either a partial generation without the marker
    * (ignored by readers, removed by the next compaction) or a committed
    * generation (readers switch atomically on the marker's existence).
    * Concurrent APPENDS during compaction are safe — their files are in no
    * manifest, so they stay visible as delta, and they rank against the
    * generation rows by the stamps both sides took when they were written.
    * Concurrent compactions of one tenant, from any number of store
    * instances, are safe too, as long as each finishes within the retention
    * window of [[vacuum]]. Two compactors whose listings straddle a write
    * both commit, and the one with the higher id may lack the write's rows.
    * Its manifest then lacks the write's delta file too, so readers still
    * see that file as active, and [[vacuum]] deletes a folded delta file
    * only when the newest aged generation and every newer one list it. */
  private def baseRoot(path: String): String = s"$path/_graft_base"

  private val CommitMarker = "_graft_committed"
  private val FoldedManifest = "_folded_deltas"

  private val genCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  private def nextGenName(): String = {
    val id = (System.currentTimeMillis() << 10) | (genCounter.incrementAndGet() & 0x3ff)
    f"gen_${id}_${java.util.concurrent.ThreadLocalRandom.current().nextLong()}%016x"
  }

  /** The (id, suffix) of a generation dir name: the order of generations. A
    * name without a suffix sorts first among its id. */
  private def genOrder(name: String): (Long, String) = {
    val (id, suffix) = name.stripPrefix("gen_").span(_ != '_')
    (scala.util.Try(id.toLong).getOrElse(-1L), suffix.drop(1))
  }

  private def genIdOf(name: String): Long = genOrder(name)._1

  private def aliasDirName(alias: String): String = s"index_alias=$alias"

  private def fileSystem(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Generation dirs holding `alias`, newest first; `committedOnly` filters
    * to marker-committed (reader-visible) generations. */
  private def gensFor(fs: org.apache.hadoop.fs.FileSystem, path: String,
                      alias: String, committedOnly: Boolean): Seq[org.apache.hadoop.fs.Path] = {
    val root = new org.apache.hadoop.fs.Path(baseRoot(path))
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen_"))
      .filter { s =>
        fs.exists(new org.apache.hadoop.fs.Path(s.getPath, aliasDirName(alias))) &&
          (!committedOnly ||
            fs.exists(new org.apache.hadoop.fs.Path(s.getPath, CommitMarker)))
      }
      .map(_.getPath)
      .sortBy(p => genOrder(p.getName))(Ordering[(Long, String)].reverse)
  }

  /** Data files currently in the tenant's delta partition, as paths relative
    * to the index root (stable across fs-qualification differences). A
    * `listStatus` walk, not `listFiles`: the located statuses `listFiles`
    * builds load each file's owner and permissions, which the local file
    * system answers by running a process per file — the bulk of a serving
    * read's planning time. */
  private def listDeltaFiles(fs: org.apache.hadoop.fs.FileSystem, path: String,
                             alias: String): Seq[String] = {
    val tenantDir = new org.apache.hadoop.fs.Path(path, aliasDirName(alias))
    if (!fs.exists(tenantDir)) Seq.empty
    else {
      val rootPrefix = fs.makeQualified(new org.apache.hadoop.fs.Path(path)).toString + "/"
      def walk(dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
        fs.listStatus(dir).toSeq.flatMap(s =>
          if (s.isDirectory) walk(s.getPath) else Seq(s.getPath))
      walk(tenantDir)
        .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
        .map(p => fs.makeQualified(p).toString.stripPrefix(rootPrefix))
    }
  }

  private def readFolded(fs: org.apache.hadoop.fs.FileSystem,
                         gen: org.apache.hadoop.fs.Path): Set[String] = {
    val m = new org.apache.hadoop.fs.Path(gen, FoldedManifest)
    if (!fs.exists(m)) Set.empty
    else {
      val in = fs.open(m)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toSet
      finally in.close()
    }
  }

  private def writeSmallFile(fs: org.apache.hadoop.fs.FileSystem,
                             p: org.apache.hadoop.fs.Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** One consistent snapshot of a tenant: its newest committed generation
    * (if any), the delta files not yet folded into it (the ACTIVE deltas),
    * and the full on-disk delta listing (active + files folded earlier but
    * retained for in-flight readers). Shared by read() and compact() so
    * both act on the same frozen file set. */
  private def tenantView(spark: SparkSession, path: String, alias: String)
      : (Option[org.apache.hadoop.fs.Path], Seq[String], Seq[String]) = {
    val fs = fileSystem(spark, path)
    val gen = gensFor(fs, path, alias, committedOnly = true).headOption
    val folded = gen.map(readFolded(fs, _)).getOrElse(Set.empty[String])
    val all = listDeltaFiles(fs, path, alias)
    (gen, all.filterNot(folded), all)
  }

  /** One reuse slot: a value built at most once for its session and key.
    * Readers lease the value ([[use]]), and a released slot frees it once
    * no reader holds it: a slot released while its value is being built or
    * read still serves the readers that asked for it. */
  private final class Slot[A](val spark: SparkSession, val key: Seq[String],
                              build: () => A, free: A => Unit, initial: Option[A] = None) {
    @volatile private var value: Option[A] = initial
    private var users = 0
    private var released = false
    /** The value if it is built, without waiting for a build in progress. */
    def peek: Option[A] = value
    /** `f` over the value, built first if need be. */
    def use[B](f: A => B): B = {
      val v = synchronized {
        if (value.isEmpty) value = Some(build())
        users += 1
        value.get
      }
      try f(v) finally done()
    }
    /** `f` over the value if it is built (after a build in progress). */
    def useBuilt[B](f: A => B): Option[B] = {
      val v = synchronized { value.map { x => users += 1; x } }
      v.map(x => try f(x) finally done())
    }
    def release(): Unit = synchronized { released = true; freeIfIdle() }
    private def done(): Unit = synchronized { users -= 1; freeIfIdle() }
    private def freeIfIdle(): Unit =
      if (released && users == 0) { value.foreach(free); value = None }
  }

  /** Values reused across reads, three slots per (index path, tenant), each
    * tagged with the session that built it and the key of the file set it
    * was built from:
    *   - `gen`: the parquet relation of the committed generation's
    *     directory (immutable once its marker lands);
    *   - `delta`: the parquet relation of the sorted active delta files
    *     (append-only);
    *   - `serving`: the tenant's resolved rows decoded to [[ServingRow]]s,
    *     with the memo of the hits served from them (a [[View]]), keyed by
    *     both (see [[serving]]).
    * A relation freezes its file listing and reads with the declared
    * [[schema]], and the serving rows are a function of those same files,
    * so a slot whose session and key equal the current ones
    * ([[tenantView]]'s listing) holds exactly what a fresh build would,
    * without the listing, and for the serving rows without decoding the
    * scan. Any write changes the listing, hence the key; the replacing
    * build may read the replaced value (a serving view folds its
    * predecessor), which is released only after that build. A read from
    * another session replaces the slot too, so the map holds at most one
    * session per slot. [[compact]] re-keys this session's serving view to
    * the generation it publishes, memo included. A released serving view is
    * unpersisted. */
  private val relations =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Slot[_]]()

  /** `use` over the slot's value for this session and key, built at most
    * once even when several threads ask for a new key together. A built
    * value that is no longer `live` counts as absent. `build` gets the slot
    * it replaces when that slot is this session's; the replaced slot is
    * released after the new value is built and used. */
  private def reuse[A, B](spark: SparkSession, path: String, alias: String, slot: String,
                          key: Seq[String], free: A => Unit = (_: A) => (),
                          live: A => Boolean = (_: A) => true)(
                          build: Option[Slot[A]] => A)(use: A => B): B = {
    var replaced: Slot[A] = null
    val s = relations.compute((path, alias, slot), (_, cur) =>
      if (cur != null && (cur.spark eq spark) && cur.key == key &&
          cur.asInstanceOf[Slot[A]].peek.forall(live)) cur
      else {
        replaced = cur.asInstanceOf[Slot[A]]
        val prior = Option(replaced).filter(_.spark eq spark)
        new Slot[A](spark, key, () => build(prior), free)
      })
    try s.asInstanceOf[Slot[A]].use(use)
    finally if (replaced != null) replaced.release()
  }

  /** Drop one slot, releasing what it holds. */
  private def release(path: String, alias: String, slot: String): Unit =
    Option(relations.remove((path, alias, slot))).foreach(_.release())

  /** A parquet relation over delta files (paths relative to the index
    * root). basePath keeps partition-column discovery (index_alias) rooted
    * at the index even though Spark is handed leaf files. */
  private def scan(spark: SparkSession, path: String, files: Seq[String]): DataFrame =
    spark.read.schema(schema).option("basePath", path).parquet(files.map(d => s"$path/$d"): _*)

  private def viewFrame(spark: SparkSession, path: String, alias: String,
                        gen: Option[org.apache.hadoop.fs.Path],
                        deltas: Seq[String]): DataFrame = {
    // the declared schema: no footer-inference job, and one column order
    // whatever order a file was written in
    val base = gen.map(g => reuse[DataFrame, DataFrame](spark, path, alias, "gen",
      Seq(g.toString))(_ => spark.read.schema(schema).parquet(g.toString)
        .where(col("index_alias") === alias))(identity))
    val delta =
      if (deltas.isEmpty) None
      else {
        val files = deltas.sorted
        Some(reuse[DataFrame, DataFrame](spark, path, alias, "delta", files)(
          _ => scan(spark, path, files))(identity))
      }
    (base, delta) match {
      case (Some(b), Some(d)) => b.unionByName(d)
      case (Some(b), None) => b
      case (None, Some(d)) => d
      case (None, None) =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          .where(col("index_alias") === alias)
    }
  }

  /** Remove now-empty delta directories bottom-up (any subdirs, then the
    * tenant dir). Never touches a non-empty dir, so concurrent appends are
    * safe. Returns true when `dir` is gone. */
  private def pruneEmptyDirs(fs: org.apache.hadoop.fs.FileSystem,
                             dir: org.apache.hadoop.fs.Path): Boolean = {
    if (!fs.exists(dir)) true
    else {
      val emptied = fs.listStatus(dir).forall(s =>
        s.isDirectory && pruneEmptyDirs(fs, s.getPath))
      if (emptied) fs.delete(dir, false)
      emptied
    }
  }

  /** Default retirement retention: superseded files stay on disk this long
    * after their replacement is committed, so an in-flight reader's frozen
    * file list stays readable — the VACUUM-retention pattern of every
    * production table format. Size it above the longest expected query. */
  val DefaultRetainMillis: Long = 10L * 60 * 1000

  /** Compact one tenant: apply the HSET-upsert semantics PHYSICALLY (latest
    * record per id survives, stale rows are dropped) and rewrite the slice
    * as fresh files — the OPTIMIZE/VACUUM analogue every append-only store
    * needs once streaming ingest starts producing a small file per
    * micro-batch. It resolves as [[readLatest]] does ([[resolve]]): only
    * the generation rows whose ids the deltas contest are windowed. Each
    * surviving row keeps its own `ingest_seq`, so a write ranks by when it
    * happened, not by when it was folded. Publication follows the
    * generation + manifest protocol documented at [[baseRoot]]; retirement
    * is retention-gated: a superseded generation (and the delta files its
    * successor folded) is deleted only once the successor has been
    * committed for at least `retainMillis`, so no reader that started inside the retention window
    * can lose a file from under its snapshot. A crash at any point never
    * loses the only copy of a row. `retainMillis = 0` reproduces immediate
    * retirement (only safe with no concurrent readers or writers).
    *
    * A tombstone that won stays in the generation until its stamp is older
    * than `retainMillis`: a write stamped before it but landing after this
    * compaction still loses to it, as it would have without the compaction.
    *
    * Once the commit marker lands, this session's cached serving view
    * ([[serving]]) of exactly the snapshot it folded, `(prevGen, active)`,
    * becomes the view of `(newGen, no deltas)`: its rows are the resolution
    * this compaction wrote, less the tombstones below the same retention
    * cutoff. The next search then folds only the deltas written after it,
    * instead of decoding the new generation again. A view of any other file
    * set, or another session's, is left alone and rebuilt on its next read.
    *
    * Returns the number of live rows surviving compaction: the live rows of
    * the generation it wrote, counted as they are written. An append that
    * lands during the compaction is not in that generation, so it is not
    * counted. */
  def compact(spark: SparkSession, path: String, alias: String,
              retainMillis: Long = DefaultRetainMillis): Long = {
    val fs = fileSystem(spark, path)
    val (prevGen, active, allDeltas) = tenantView(spark, path, alias)
    if (prevGen.isEmpty && allDeltas.isEmpty) return 0L // no such tenant
    // ids whose newest record is a tombstone older than the retention
    // window leave the store HERE — after vacuum's retention window their
    // bytes are gone from disk
    val cutoff = (System.currentTimeMillis() - retainMillis) << 10
    val resolved = resolve(spark, path, alias, prevGen, active)
      .where(isLive || col("ingest_seq") >= lit(cutoff))
    val genDir = new org.apache.hadoop.fs.Path(baseRoot(path), nextGenName())
    // each surviving row keeps the stamp it was written with: restamping
    // the generation with this compaction's clock would rank it above an
    // append that took its stamp earlier but landed after the listing
    // the live count rides the write: no job reads the generation back
    val written = org.apache.spark.sql.Observation()
    stampIngest(resolved).observe(written, count(when(isLive, 1)).as("live"))
      .write.partitionBy("index_alias").parquet(genDir.toString)
    // Empty tenant (every row resolved to a dropped tombstone): a zero-row
    // dynamic-partition write emits no tenant dir. Publish an empty one, so
    // the generation is seen like any other and vacuum retires the rows
    // and tombstones it supersedes.
    fs.mkdirs(new org.apache.hadoop.fs.Path(genDir, aliasDirName(alias)))
    // The manifest lists EVERY delta file on disk at snapshot time — the
    // ones folded now AND the ones folded by earlier generations but still
    // retained: all their rows are inside this generation, so the new view
    // must exclude all of them or a reader would double-count. Files from
    // appends racing this compaction are in no manifest and stay visible.
    writeSmallFile(fs, new org.apache.hadoop.fs.Path(genDir, FoldedManifest),
      allDeltas.mkString("\n"))
    // The commit marker is the publish point: its creation atomically flips
    // readers from (prevGen + active deltas) to this generation.
    writeSmallFile(fs, new org.apache.hadoop.fs.Path(genDir, CommitMarker), "")
    // the key a reader's listing gives the new generation
    gensFor(fs, path, alias, committedOnly = true).find(_.getName == genDir.getName)
      .foreach(rekeyServing(spark, path, alias,
        prevGen.map(_.toString).toSeq ++ active.sorted, _, cutoff))
    vacuum(spark, path, alias, retainMillis)
    written.get("live").asInstanceOf[Long]
  }

  /** Retention-gated retirement of superseded files (see [[compact]]):
    * for each adjacent committed-generation pair, once the newer one has
    * been committed for `retainMillis` no reader can still hold the older
    * view — delete the older generation, and any uncommitted same-tenant
    * debris older than the window (a crashed compaction's partial write;
    * never reader-visible). A folded delta file is deleted only when the
    * newest aged generation lists it and so does every newer committed
    * one: then every reader that could still list the file reads a
    * generation holding its rows. Under one compactor manifests only grow,
    * so this is every file an aged generation folded. Two compactions whose
    * listings straddle a write can commit the one without the write last;
    * its manifest lacks the write's file, which therefore stays. */
  def vacuum(spark: SparkSession, path: String, alias: String,
             retainMillis: Long = DefaultRetainMillis): Unit = {
    val fs = fileSystem(spark, path)
    val now = System.currentTimeMillis()
    def ageOf(p: org.apache.hadoop.fs.Path): Long =
      now - fs.getFileStatus(p).getModificationTime
    val committed = gensFor(fs, path, alias, committedOnly = true)
    // every age is read before anything is deleted: a generation deleted as
    // superseded is still the successor of the next older one
    val aged = committed.filter(g =>
      ageOf(new org.apache.hadoop.fs.Path(g, CommitMarker)) >= retainMillis).toSet
    // Folded delta files: those the newest aged generation and every newer
    // one fold. A view older than that generation is past the window, and
    // each newer view holds their rows.
    val newestAged = committed.indexWhere(aged)
    if (newestAged >= 0)
      committed.take(newestAged + 1).map(readFolded(fs, _)).reduce(_ intersect _).foreach(rel =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/$rel"), false))
    // Superseded generations: deletable once their SUCCESSOR has aged.
    committed.sliding(2).foreach {
      case Seq(newer, older) if aged(newer) => fs.delete(older, true)
      case _ => ()
    }
    pruneEmptyDirs(fs, new org.apache.hadoop.fs.Path(path, aliasDirName(alias)))
    gensFor(fs, path, alias, committedOnly = false)
      .filter(g => !fs.exists(new org.apache.hadoop.fs.Path(g, CommitMarker)) &&
        ageOf(g) >= retainMillis)
      .foreach(g => fs.delete(g, true))
  }

  /** Number of delta-zone data files currently visible (unfolded) for the
    * tenant — the small-file-pressure gauge a compaction trigger reads
    * (each streaming micro-batch appends at least one file; see
    * [[graft.streaming.StreamingIngest]]). */
  def deltaFileCount(spark: SparkSession, path: String, alias: String): Int =
    tenantView(spark, path, alias)._2.size

  /** Committed generation ids for a tenant, newest first — the time-travel
    * catalog. Each committed generation is a CONSISTENT snapshot (compact
    * folds every delta file on disk into the new generation before the
    * commit marker lands), so any retained id can be read as-of via
    * [[readGeneration]]. [[vacuum]]'s retention window bounds how far back
    * the catalog reaches — the table-format time-travel contract. Two
    * writers' generations may share an id (`gen_<id>_<suffix>`); the id is
    * listed once. */
  def generations(spark: SparkSession, path: String, alias: String): Seq[Long] = {
    val fs = fileSystem(spark, path)
    gensFor(fs, path, alias, committedOnly = true).map(p => genIdOf(p.getName)).distinct
  }

  /** Snapshot (time-travel) read: the tenant exactly as folded at the given
    * committed generation's publish — deltas appended and generations
    * committed AFTER it are excluded, because the generation dir itself IS
    * the folded state (no manifest chasing needed); the tombstones it
    * retains are left out. Throws if the id is unknown, not committed,
    * already vacuumed past retention, or shared by two committed
    * generations (then the id names no one snapshot). */
  def readGeneration(spark: SparkSession, path: String, alias: String,
                     genId: Long): DataFrame = {
    val fs = fileSystem(spark, path)
    val committed = gensFor(fs, path, alias, committedOnly = true)
    val gen = committed.filter(p => genIdOf(p.getName) == genId) match {
      case Seq(g) => g
      case Seq() => throw new IllegalArgumentException(
        s"generation $genId of '$alias' does not exist (committed ids: " +
          s"${committed.map(p => genIdOf(p.getName)).distinct.mkString(", ")})")
      case shared => throw new IllegalArgumentException(
        s"generation $genId of '$alias' is ambiguous: committed as " +
          shared.map(_.getName).sorted.mkString(" and "))
    }
    viewFrame(spark, path, alias, Some(gen), Seq.empty).where(isLive)
  }

  /** Read one tenant's slice — the union of its newest committed compacted
    * generation (if any) and the unfolded delta files, both partition-
    * pruned. PHYSICAL rows: upsert resolution is [[readLatest]]'s job, so a
    * compaction bug that leaves stale rows visible shows up here. An
    * existing-but-empty index reads as zero rows (the reference's empty
    * Redis index returns no hits, not an error). */
  def read(spark: SparkSession, path: String, alias: String): DataFrame = {
    val (gen, active, _) = tenantView(spark, path, alias)
    viewFrame(spark, path, alias, gen, active)
  }

  /** Read with HSET-overwrite semantics: newest record per id wins (by the
    * ingest generation stamp).
    *
    * Scale shape — a lazy plan: calling it lists the tenant's files (FS
    * metadata only) and runs no Spark job. It plans over the parquet
    * relations already read for the same generation dir and the same active
    * delta files (see [[relations]]), and any write is seen on the very next
    * read.
    *   - zero active deltas (the steady state right after [[compact]]): the
    *     committed generation is already latest-resolved, so the read IS the
    *     raw pruned scan — no window, no exchange;
    *   - active deltas present: only ids that appear in the delta set can be
    *     contested, so the upsert window runs over the contested generation
    *     rows plus the delta rows, never over the whole tenant (see
    *     [[resolve]]).
    * Searches do not run this plan: they read [[serving]], which resolves
    * the same records in the same order on the driver, fold by fold. */
  def readLatest(spark: SparkSession, path: String, alias: String): DataFrame = {
    val (gen, active, _) = tenantView(spark, path, alias)
    dropTombstones(resolve(spark, path, alias, gen, active).drop("ingest_seq"))
  }

  /** `f` over the serving view of one tenant ([[View]]): [[readLatest]]'s
    * records as JVM values, one array per partition, for the request
    * kernels ([[ServingKernel]]), and the memo of the hits they gave over
    * this view. The rows also hold each id's `ingest_seq` and its tombstone
    * winners, which the kernels skip. A view is cached per file set (the
    * `serving` slot of [[relations]]), its rows persisted `MEMORY_AND_DISK`,
    * the only per-view cache that holds data besides the memo, and it stays
    * cached while `f` runs. The listing runs on every call, so any write is
    * seen by the next one.
    *
    * One resolution path builds the rows, the fold ([[fold]]):
    *   - a listing that keeps the cached view's generation and only adds
    *     delta files folds the new files into the cached rows: it decodes
    *     only those files, resolves them by id on the driver, and writes a
    *     new view from the cached rows and the winning new rows. Vectors
    *     stay on the executors, and no broadcast, shuffle or window runs:
    *     one job reads the new rows' keys, one more looks up the cached rows
    *     they contest (skipped when every new stamp is newer than the view's
    *     newest), and one fills the new view;
    *   - any other listing builds the view cold: the same fold over a plain
    *     decode of the generation, or the plain decode alone when no delta
    *     is pending (then the first job over it fills it).
    * Either way the new view starts with an empty memo, so a write drops
    * every memoized hit; a compaction's re-keyed view keeps it
    * ([[rekeyServing]]). Each view is local-checkpointed once filled, so
    * its lineage does not grow with the folds and no view reads the parquet
    * files again (which `vacuum` may delete). The cache holds one value per
    * partition, not one per row, so filling it does not track the size of
    * every row (on a tenant of about 1,800 rows that tracking cost the first
    * search 35-50 ms). [[drop]] releases the view.
    *
    * A view whose rows were freed outside this object (a sweep that
    * unpersists every RDD) is not [[held]]: it counts as absent, and the
    * view is built cold. */
  private[graft] def serving[B](spark: SparkSession, path: String, alias: String)(
      f: View => B): B = {
    val (gen, active, _) = tenantView(spark, path, alias)
    val files = active.sorted
    reuse[View, B](spark, path, alias, "serving", gen.map(_.toString).toSeq ++ files,
      unpersist, held)(buildView(spark, path, alias, gen, files))(f)
  }

  private val unpersist: View => Unit = v =>
    org.apache.spark.sql.graftbridge.StorageBridge.release(v.rows)

  /** Whether a view's rows can still be read: they are registered as
    * persisted, or there are none. */
  private val held: View => Boolean = v =>
    org.apache.spark.sql.graftbridge.StorageBridge.isPersisted(v.rows) || v.rows.partitions.isEmpty

  /** The view of `gen` plus the sorted delta `files`: `prior`'s view with
    * the new files folded in when it is [[held]] and has the same
    * generation and a subset of the files, else built cold. */
  private def buildView(spark: SparkSession, path: String, alias: String,
                        gen: Option[org.apache.hadoop.fs.Path], files: Seq[String])(
                        prior: Option[Slot[View]]): View =
    prior.flatMap(_.useBuilt { v =>
      if (held(v) && v.gen == gen.map(_.toString) && v.active.forall(files.contains))
        Some(fold(spark, path, alias, v, files.filterNot(v.active.contains)))
      else None
    }).flatten.getOrElse {
      val base = plainView(spark, path, alias, gen)
      if (files.isEmpty) base
      else try fold(spark, path, alias, base, files) finally unpersist(base)
    }

  /** A serving view: a tenant's resolved records (tombstone winners
    * included) as [[ServingRow]]s, one array per partition, and the file
    * set they resolve (`gen` plus the sorted `active` delta files).
    * `shape`, once known, gives a bound on every stamp in `rows` from above
    * and the row count of each partition. A tombstone stamped below
    * `cutoff` is gone: a compaction since the last fold dropped it.
    *
    * `memo` holds the hits [[hits]] gave over these rows. It is not part of
    * the view's equality. A view's rows never change, so its hits for a
    * kernel and a query vector do not either. */
  private[graft] final case class View(rows: RDD[Array[ServingRow]], gen: Option[String],
                                       active: Seq[String],
                                       shape: () => Option[(Long, Array[Int])], cutoff: Long)(
                                       val memo: Memo) {
    /** `kernel`'s hits for `queryVec` over [[rows]]: one Spark job the first
      * time this view is asked, none while the memo still holds them. */
    def hits(kernel: ServingKernel, queryVec: Array[Float]): Seq[KnnSearch.Hit] =
      memo(kernel, queryVec)(kernel(rows, queryVec))
  }

  /** The most hits one view's [[Memo]] holds; an empty result counts as one
    * hit, so it also bounds the entries. Worst case, per view: 8,192 hits,
    * each about 250 bytes of objects plus its id, path and page content
    * strings, and one query vector copy per entry (4 bytes a dim). At
    * `text-embedding-ada-002`'s 1,536 dims and 300-word pages of about
    * 2 KB, that is 8,192 x 2.3 KB = 19 MB of hits when entries hold many
    * hits each, and at most 8,192 x 6.2 KB = 51 MB of vectors when every
    * entry holds one hit. A memo of 50-hit `answers` retrievals stays near
    * the first figure. */
  private[graft] val MemoHits = 8192

  /** A [[Memo]] key: a kernel and a query vector, equal by the vector's
    * float bits. */
  private final class Key(val kernel: ServingKernel, val vec: Array[Float]) {
    override def hashCode: Int = 31 * kernel.hashCode + java.util.Arrays.hashCode(vec)
    override def equals(o: Any): Boolean = o match {
      case k: Key => k.kernel == kernel && java.util.Arrays.equals(k.vec, vec)
      case _ => false
    }
  }

  /** A least-recently-used map from a request (a [[ServingKernel]] with its
    * parameters, and the query vector's exact float bits) to the hits it
    * gave, holding at most [[MemoHits]] hits. It keys on the vector, not on
    * a prompt: store instances with different embedders may share a view.
    * A result above the bound is not held. */
  private[graft] final class Memo {
    private val entries = new java.util.LinkedHashMap[Key, Seq[KnnSearch.Hit]](16, 0.75f, true)
    private var held = 0

    private def weight(hits: Seq[KnnSearch.Hit]): Int = math.max(1, hits.size)

    /** The held hits of the request, else `run`'s, held from now on. Two
      * threads that miss on one request together both run it. */
    def apply(kernel: ServingKernel, vec: Array[Float])(
        run: => Seq[KnnSearch.Hit]): Seq[KnnSearch.Hit] = {
      val key = new Key(kernel, vec)
      synchronized(Option(entries.get(key))).getOrElse {
        val hits = run
        if (weight(hits) <= MemoHits) synchronized {
          // the caller may reuse its array: the key keeps a copy
          if (entries.put(new Key(kernel, Option(vec).map(_.clone()).orNull), hits) == null)
            held += weight(hits)
          val eldest = entries.values.iterator
          while (held > MemoHits) { held -= weight(eldest.next()); eldest.remove() }
        }
        hits
      }
    }

    /** Hits held now, an empty result counted as one. */
    def size: Int = synchronized(held)
  }

  private def newestOf(rows: Array[ServingRow]): Long =
    rows.iterator.map(_.ingestSeq).foldLeft(Long.MinValue)(math.max)

  private def servingName(path: String, alias: String): String =
    s"serving $path/${aliasDirName(alias)}"

  /** The rows of `df` decoded to [[ServingRow]]s, one array per partition. */
  private def decode(df: DataFrame): RDD[Array[ServingRow]] =
    df.select(ServingRow.columns.map(col): _*).queryExecution.toRdd
      .mapPartitions(it => Iterator.single(it.map(ServingRow.decode).toArray))

  /** The plain decode of a generation (already one record per id), marked
    * for local checkpointing and filled by the first job over it, which
    * also reports its shape; an empty view without one. */
  private def plainView(spark: SparkSession, path: String, alias: String,
                        gen: Option[org.apache.hadoop.fs.Path]): View = gen match {
    case Some(g) =>
      // (partition, newest stamp, rows) as each partition is decoded; a
      // retried task reports the same values again
      val seen = spark.sparkContext.collectionAccumulator[(Int, Long, Int)]
      val rows = decode(viewFrame(spark, path, alias, gen, Seq.empty))
        .mapPartitionsWithIndex((p, it) =>
          it.map { a => seen.add((p, newestOf(a), a.length)); a })
        .setName(servingName(path, alias)).localCheckpoint()
      View(rows, Some(g.toString), Seq.empty, () => {
        val parts = seen.value.asScala.groupBy(_._1).map(_._2.head)
        if (parts.size < rows.getNumPartitions) None
        else Some((parts.map(_._2).foldLeft(Long.MinValue)(math.max),
          parts.toArray.sortBy(_._1).map(_._3)))
      }, Long.MinValue)(new Memo)
    case None =>
      View(spark.sparkContext.emptyRDD[Array[ServingRow]], None, Seq.empty,
        () => Some((Long.MinValue, Array.empty[Int])), Long.MinValue)(new Memo)
  }

  /** The ranking fields of one record. */
  private final case class Rank(id: String, seq: Long, deleted: Boolean, content: String)

  private def rankOf(r: ServingRow): Rank = Rank(r.id, r.ingestSeq, r.isDeleted, r.pageContent)

  /** `a` beats `b`, a record of the same id, in [[latestPerId]]'s order:
    * `ingest_seq` desc, `is_deleted` desc, `page_content` asc with nulls
    * first (UTF-8 byte order). */
  private def beats(a: Rank, b: Rank): Boolean =
    if (a.seq != b.seq) a.seq > b.seq
    else if (a.deleted != b.deleted) a.deleted
    else KnnSearch.compareUtf8(a.content, b.content) < 0

  /** A tombstone a compaction dropped (see [[View]]). */
  private def gone(r: ServingRow, cutoff: Long): Boolean = r.isDeleted && r.ingestSeq < cutoff

  /** `old` with the delta files `files` folded in, filled and
    * local-checkpointed: each id keeps its best record in [[latestPerId]]'s
    * order among its row in `old` and its new rows. The new files are
    * decoded once (persisted until the fill), and only their keys reach the
    * driver:
    *   1. one job collects the new rows' [[Rank]]s; the driver picks each
    *      id's best new row;
    *   2. ids whose best new stamp is not above the stamp bound of `old`
    *      (every id when its shape is unknown) are contested: one job
    *      collects the ranks of their rows in `old`, with its shape. Skipped
    *      when no id is contested and the shape is known;
    *   3. one job fills the new view: each partition of `old` without the
    *      ids a new row won and without its dropped tombstones, plus the
    *      winning new rows. The new files' partitions become partitions of
    *      their own up to the default parallelism, then join the smallest
    *      ones, so no shuffle runs and the partition count stays bounded. */
  private def fold(spark: SparkSession, path: String, alias: String, old: View,
                   files: Seq[String]): View = {
    val deltas = decode(scan(spark, path, files))
      .setName(s"fold ${servingName(path, alias)}").persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val ranks = deltas.map(_.map(rankOf)).collect()
      // each id's best new row, as (partition, index)
      val best = mutable.HashMap.empty[String, (Int, Int)]
      for (p <- ranks.indices; i <- ranks(p).indices) {
        val r = ranks(p)(i)
        if (best.get(r.id).forall { case (bp, bi) => beats(r, ranks(bp)(bi)) }) best(r.id) = (p, i)
      }
      def rankAt(at: (Int, Int)): Rank = ranks(at._1)(at._2)
      val shape = old.shape()
      val contested = best.collect {
        case (id, at) if shape.forall(rankAt(at).seq <= _._1) => id
      }.toSet
      val cutoff = old.cutoff
      val (held, newest, sizes) = shape match {
        case Some((n, s)) if contested.isEmpty => (Map.empty[String, Rank], n, s)
        case _ =>
          val found = old.rows.map { rows =>
            (rows.iterator.filter(r => contested(r.id) && !gone(r, cutoff)).map(rankOf).toArray,
              newestOf(rows), rows.length)
          }.collect()
          (found.iterator.flatMap(_._1).map(r => r.id -> r).toMap,
            found.iterator.map(_._2).foldLeft(Long.MinValue)(math.max), found.map(_._3))
      }
      val won = best.filter { case (id, at) => held.get(id).forall(beats(rankAt(at), _)) }
      val drop = won.keySet.toSet
      val byPart = won.values.groupBy(_._1)
      val keep = Array.tabulate(ranks.length)(p =>
        byPart.get(p).fold(Array.empty[Int])(_.map(_._2).toArray.sorted))
      // old partition j is group j; new partitions get groups of their own
      // up to the default parallelism, then join the smallest group
      val oldParts = old.rows.getNumPartitions
      val groups = mutable.ArrayBuffer.tabulate(oldParts)(j => mutable.ArrayBuffer(j))
      val load = mutable.ArrayBuffer.from(sizes)
      val target = math.max(oldParts,
        math.min(oldParts + ranks.length, spark.sparkContext.defaultParallelism))
      keep.indices.foreach { q =>
        val grow = groups.size < target
        if (grow) { groups += mutable.ArrayBuffer.empty[Int]; load += 0 }
        val j = if (grow) groups.size - 1 else load.indices.minBy(load)
        groups(j) += oldParts + q
        load(j) += keep(q).length
      }
      val rows = old.rows.map(_.filter(r => !drop(r.id) && !gone(r, cutoff)))
        .union(deltas.mapPartitionsWithIndex((q, it) => it.map(rows => keep(q).map(rows))))
        .coalesce(groups.size, shuffle = false,
          Some(new FixedGroups(groups.map(_.toArray).toArray)))
        .mapPartitions(it => Iterator.single(it.flatMap(_.iterator).toArray))
        .setName(servingName(path, alias)).localCheckpoint()
      val filled = rows.map(_.length).collect()
      val bound = ranks.iterator.flatten.map(_.seq).foldLeft(newest)(math.max)
      View(rows, old.gen, (old.active ++ files).sorted, () => Some((bound, filled)),
        Long.MinValue)(new Memo)
    } finally deltas.unpersist(false)
  }

  /** Coalesces a parent's partitions into the given groups of indices. */
  private final class FixedGroups(groups: Array[Array[Int]])
      extends org.apache.spark.rdd.PartitionCoalescer with Serializable {
    def coalesce(maxPartitions: Int,
                 parent: RDD[_]): Array[org.apache.spark.rdd.PartitionGroup] =
      groups.map { g =>
        val group = new org.apache.spark.rdd.PartitionGroup()
        g.foreach(i => group.partitions += parent.partitions(i))
        group
      }
  }

  /** After a compaction of the snapshot `from` published `gen`: this
    * session's filled serving view of exactly `from` becomes the view of
    * `gen` with no deltas, dropping its tombstones stamped below `cutoff`
    * as the compaction did. Its rows move to the new slot, which frees them
    * when it is released; the old slot is dropped without freeing them. A
    * view that is not [[held]] is left alone, to be rebuilt cold. The
    * view keeps its memo: the tombstones it drops are never served, so every
    * held hit is still the kernel's answer over the re-keyed view. */
  private def rekeyServing(spark: SparkSession, path: String, alias: String,
                           from: Seq[String], gen: org.apache.hadoop.fs.Path,
                           cutoff: Long): Unit =
    relations.computeIfPresent((path, alias, "serving"), (_, cur) =>
      if (!(cur.spark eq spark) || cur.key != from) cur
      else cur.asInstanceOf[Slot[View]].peek.filter(v => v.rows.isCheckpointed && held(v)) match {
        case Some(v) =>
          // a reader that reaches the new slot after its release builds cold
          new Slot[View](spark, Seq(gen.toString),
            () => buildView(spark, path, alias, Some(gen), Seq.empty)(None), unpersist,
            Some(v.copy(gen = Some(gen.toString), active = Seq.empty,
              cutoff = math.max(v.cutoff, cutoff))(v.memo)))
        case None => cur
      })

  /** Newest record per id over the generation and the active deltas,
    * tombstone winners and `ingest_seq` included. The generation already
    * holds one row per id, so only ids in the deltas are contested: the
    * window runs over the generation rows with those ids plus the delta
    * rows, and every other generation row passes through. Both sides
    * select against the broadcast delta ids (deltas are small by the
    * compaction invariant), so no id list is collected while planning and
    * the plan runs no job until it is executed. */
  private def resolve(spark: SparkSession, path: String, alias: String,
                      gen: Option[org.apache.hadoop.fs.Path],
                      active: Seq[String]): DataFrame = {
    if (active.isEmpty) viewFrame(spark, path, alias, gen, Seq.empty)
    else {
      val deltaDf = viewFrame(spark, path, alias, None, active)
      gen.fold(latestPerId(deltaDf)) { g =>
        val genDf = viewFrame(spark, path, alias, Some(g), Seq.empty)
        val ids = broadcast(deltaDf.select("id"))
        genDf.join(ids, Seq("id"), "left_anti").unionByName(
          latestPerId(genDf.join(ids, Seq("id"), "left_semi").unionByName(deltaDf)))
      }
    }
  }

  /** True for a row that is not a tombstone. */
  private def isLive: org.apache.spark.sql.Column = !coalesce(col("is_deleted"), lit(false))

  /** Serve only live rows: an id whose NEWEST record is a tombstone
    * disappears; the flag column never leaves the store layer. Narrow —
    * resolution already happened. */
  private def dropTombstones(df: DataFrame): DataFrame =
    df.where(isLive).drop("is_deleted")

  /** Newest record per id, keeping its `ingest_seq`. Ties on the stamp (one
    * batch holding the same id twice, or two writer JVMs taking the same
    * stamp) break on (tombstone first, page_content asc), so the winner
    * does not depend on how the rows were partitioned. */
  private def latestPerId(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id"))
      .orderBy(col("ingest_seq").desc, col("is_deleted").desc, col("page_content").asc)
    df.withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
  }
}

/** One resolved record of a tenant as JVM values: the columns of
  * [[IndexTable.schema]] with the vector decoded to an `Array[Float]`.
  * Nullable columns stay nullable (`pageNumber` is boxed), so a hit built
  * from it reads back exactly as the parquet row would. `ingestSeq` and
  * `isDeleted` rank it against later writes; a tombstone (`isDeleted`) is
  * never served. */
final case class ServingRow(id: String, indexAlias: String, documentPath: String,
                            pageNumber: java.lang.Integer, pageContent: String,
                            vector: Array[Float], ingestSeq: Long, isDeleted: Boolean)

object ServingRow {
  /** The columns a serving row is decoded from, in field order. */
  val columns: Seq[String] = IndexTable.schema.fieldNames.toSeq

  private def str(r: InternalRow, i: Int): String =
    if (r.isNullAt(i)) null else r.getUTF8String(i).toString

  /** Copies every value out of `r`, which the scan may reuse. */
  def decode(r: InternalRow): ServingRow = ServingRow(
    str(r, 0), str(r, 1), str(r, 2),
    if (r.isNullAt(3)) null else Int.box(r.getInt(3)),
    str(r, 4),
    if (r.isNullAt(5)) null else r.getArray(5).toFloatArray(),
    // every written file carries both (stampIngest); a null stamp ranks
    // last, as in the window's descending order
    if (r.isNullAt(6)) Long.MinValue else r.getLong(6),
    !r.isNullAt(7) && r.getBoolean(7))
}

/** A request kernel over a tenant's serving rows, with the parameters that
  * fix its hits. A view's memo keys on it and the query vector
  * ([[IndexTable.View]]), so two kernels are equal only when they return
  * the same hits for the same vector. */
sealed trait ServingKernel {
  def apply(rows: RDD[Array[ServingRow]], queryVec: Array[Float]): Seq[KnnSearch.Hit]
}

object ServingKernel {
  /** [[KnnSearch.serveTopK]]: the exact cosine top `k`. */
  final case class Exact(k: Int) extends ServingKernel {
    def apply(rows: RDD[Array[ServingRow]], queryVec: Array[Float]): Seq[KnnSearch.Hit] =
      KnnSearch.serveTopK(rows, queryVec, k)
  }

  /** [[BinaryQuant.serveHamming]]: the top `k` by cosine of the
    * `candidates` rows Hamming-nearest the query's sign bits. */
  final case class Hamming(k: Int, candidates: Int) extends ServingKernel {
    def apply(rows: RDD[Array[ServingRow]], queryVec: Array[Float]): Seq[KnnSearch.Hit] =
      BinaryQuant.serveHamming(rows, queryVec, k, candidates)
  }
}
