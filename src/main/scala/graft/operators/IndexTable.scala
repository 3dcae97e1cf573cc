package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
    relations.keySet.removeIf(_._2 == path)
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

  private def stampIngest(records: DataFrame): DataFrame = {
    // millis << 10 + per-process counter: strictly increasing even for
    // appends within the same millisecond.
    val gen = (System.currentTimeMillis() << 10) | (ingestCounter.incrementAndGet() & 0x3ff)
    val stamped =
      if (records.columns.contains("ingest_seq")) records
      else records.withColumn("ingest_seq", lit(gen))
    // every written file carries the tombstone column so mixed delta reads
    // never lose it to single-footer schema inference
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
    * compaction, which was already rewriting the tenant). Tombstones carry
    * no layout column, so bucket/cell-pruned reads keep NULL-layout rows
    * visible (a tombstone must mask its id in EVERY probe set). */
  def deleteRecords(ids: DataFrame, path: String, alias: String): Unit = {
    val tomb = ids.select(col(ids.columns.head).cast("string").as("id"))
      .withColumn("index_alias", lit(alias))
      .withColumn("document_path", lit(null).cast("string"))
      .withColumn("page_number", lit(null).cast("int"))
      .withColumn("page_content", lit(null).cast("string"))
      .withColumn("page_content_vector", lit(null).cast("array<float>"))
      .withColumn("is_deleted", lit(true))
    // layout-partitioned stores need tombstones at the SAME partition depth
    // (mixed depths break partition discovery), so they go to a dedicated
    // tombstone partition that every pruned read adds to its probe set
    val spark = ids.sparkSession
    val fs = fileSystem(spark, path)
    val tenantDir = new org.apache.hadoop.fs.Path(path, aliasDirName(alias))
    def hasLayout(c: String): Boolean =
      fs.exists(tenantDir) && fs.listStatus(tenantDir)
        .exists(st => st.isDirectory && st.getPath.getName.startsWith(c + "="))
    if (hasLayout(BucketCol))
      stampIngest(tomb.withColumn(BucketCol, lit(TombPartition)))
        .write.mode(SaveMode.Append)
        .partitionBy("index_alias", BucketCol).parquet(path)
    else if (hasLayout(CellCol))
      stampIngest(tomb.withColumn(CellCol, lit(TombPartition)))
        .write.mode(SaveMode.Append)
        .partitionBy("index_alias", CellCol).parquet(path)
    else if (hasLayout(NodeBucketCol))
      // the node bucket is a PURE function of the id (unlike the
      // vector-derived LSH/IVF layouts), so a tombstone can land in the
      // exact bucket holding its id's live rows — pruned reads see the
      // mask with no tomb-partition scan
      stampIngest(tomb.withColumn(NodeBucketCol, nodeBucketOf(col("id"))))
        .write.mode(SaveMode.Append)
        .partitionBy("index_alias", NodeBucketCol).parquet(path)
    else append(tomb, path)
  }

  /** Disk value of the tombstone layout partition: no legal bucket
    * ("b"+bits) or cell ("c"+id) value collides with it. */
  private val TombPartition = "tomb"

  /** [[deleteRecords]] for a driver-side id list. */
  def delete(spark: SparkSession, path: String, alias: String,
             ids: Seq[String]): Unit = {
    import spark.implicits._
    deleteRecords(ids.toDF("id"), path, alias)
  }

  def append(records: DataFrame, path: String): Unit =
    stampIngest(records)
      .write.mode(SaveMode.Append).partitionBy("index_alias").parquet(path)

  /** Conventional LSH bucket partition column (shared with
    * [[graft.plans.LshTopKPruneRule]]). */
  val BucketCol: String = graft.plans.LshTopKPruneRule.BucketCol

  /** Default hyperplane seed for the bucketed layout — distinct from the
    * embedder seed; must match between write and probe time. */
  val DefaultLshSeed: Long = 42L

  /** K1 at the 100 TB scale point: append with the vector's sign-LSH bucket
    * as a SECOND partition column. A probe-time filter on [[BucketCol]] then
    * prunes at the FILE level (Catalyst `PruneFileSourcePartitions` turns the
    * `IN` probe list into PartitionFilters), so an approximate search touches
    * (1 + bits)/2^bits of the tenant's files instead of scanning and
    * discarding rows — the on-disk analogue of the reference's HNSW candidate
    * narrowing (reference `modules/utilities.py:272-278`). */
  /** Disk encoding of a bucket bit-string. The "b" prefix is load-bearing:
    * a bare bit-string directory name (`__lsh_bucket=0110`) is type-inferred
    * as an INTEGER partition column on read, silently dropping leading zeros
    * — probe strings then never match leading-zero buckets. */
  private def diskBucket(bitString: String): String = "b" + bitString

  def appendBucketed(records: DataFrame, path: String, bits: Int, dim: Int,
                     lshSeed: Long = DefaultLshSeed): Unit = {
    val planes = SimilaritySearch.hyperplanes(bits, dim, lshSeed)
    stampIngest(records)
      .withColumn(BucketCol,
        concat(lit("b"), SimilaritySearch.lshBucket(col("page_content_vector"), planes)))
      .write.mode(SaveMode.Append).partitionBy("index_alias", BucketCol).parquet(path)
  }

  // ---------------- node-bucketed layout (graph stores) ----------------

  /** Id-hash bucket partition column — the layout for GRAPH-indexed stores,
    * whose serving access pattern is per-round POINT LOOKUPS of node ids
    * (the HNSW walk), not vector-similarity probes. The bucket is a pure
    * function of the record id (`pmod(xxhash64(id), GraphNodeBuckets)` —
    * the walk's own node key), so every version of an id, its tombstone
    * included, lives in ONE bucket: pruned reads have none of the
    * re-ingest staleness caveat the vector-derived layouts carry. */
  val NodeBucketCol: String = "__node_bucket"

  /** Bucket fanout. 64 keeps a frontier round's probe set at <= a few
    * dozen directories while a 100 TB tenant's per-bucket slice is 1/64 of
    * the corpus — the walk reads files proportional to the frontier, not
    * the index. */
  val GraphNodeBuckets: Int = 64

  private def nodeBucketOf(id: Column): Column =
    concat(lit("n"), pmod(xxhash64(id), lit(GraphNodeBuckets.toLong)))

  /** K1 at the graph-serving scale point: append with the id-hash bucket as
    * a SECOND partition column, so the graph walk's per-round vector
    * fetches prune at the FILE level ([[readLatestPrunedNodes]]). */
  def appendNodeBucketed(records: DataFrame, path: String): Unit =
    stampIngest(records)
      .withColumn(NodeBucketCol, nodeBucketOf(col("id")))
      .write.mode(SaveMode.Append)
      .partitionBy("index_alias", NodeBucketCol).parquet(path)

  /** Node-pruned tenant read: scan only the buckets holding the given
    * xxhash64 node keys (plus legacy unrouted tombstones). Latest-per-id
    * within the slice is EXACT here — an id's bucket never moves — so
    * unlike the vector layouts there is no staleness window. */
  def readLatestPrunedNodes(spark: SparkSession, path: String, alias: String,
                            nodeIds: Seq[Long]): DataFrame = {
    val probes = nodeIds.map(n =>
      "n" + java.lang.Math.floorMod(n, GraphNodeBuckets.toLong)).distinct
    latestView(spark, path, alias, df =>
      if (df.columns.contains(NodeBucketCol))
        df.where(col(NodeBucketCol).isin((probes :+ TombPartition): _*) ||
          col(NodeBucketCol).isNull)
      else df // unbucketed legacy store: unpruned but correct
    ).drop(NodeBucketCol)
  }

  // ---------------- IVF-partitioned layout ----------------

  /** IVF cell partition column (centroid-partitioned store — the second
    * approximate layout next to the LSH-bucketed one). */
  val CellCol: String = "__ivf_cell"

  /** Centroids live under an underscore-prefixed sibling dir INSIDE the
    * index path: parquet scans ignore `_`-prefixed directories, so the main
    * table read never sees them, yet drop(path) removes everything. */
  private def centroidsPath(path: String): String = s"$path/_graft_centroids"

  private def diskCell(centroidId: Long): String = "c" + centroidId

  /** K1 at the IVF scale point: assign every record's vector to its nearest
    * centroid and write with the cell as a SECOND partition column — the
    * inverted-file layout on disk. Centroids are built from this batch
    * (deterministic seeding + Lloyd, [[SimilaritySearch.ivfCentroids]])
    * unless the store already has them (appends after the first reuse the
    * existing codebook so cells stay stable across generations). */
  def appendIvf(records: DataFrame, path: String, nCentroids: Int,
                iters: Int = 2): Unit = {
    val spark = records.sparkSession
    val centroids = readCentroids(spark, path).getOrElse {
      val c = SimilaritySearch.ivfCentroids(records, nCentroids, iters,
        vecCol = "page_content_vector", idCol = "id")
      c.coalesce(1).write.mode(SaveMode.Overwrite).parquet(centroidsPath(path))
      // Assign from the PERSISTED codebook, not the lazy plan: the plan
      // contains monotonically_increasing_id, so a second execution (AQE
      // re-planning, different partitioning) could stamp centroid_ids that
      // disagree with what was just written, silently mis-routing
      // readLatestPrunedIvf for the first batch.
      spark.read.parquet(centroidsPath(path))
    }
    val celled = SimilaritySearch
      .assignToCentroid(stampIngest(records), centroids,
        vecCol = "page_content_vector", idCol = "id")
      .withColumn(CellCol, concat(lit("c"), col("centroid_id")))
      .drop("centroid_id")
    celled.write.mode(SaveMode.Append)
      .partitionBy("index_alias", CellCol).parquet(path)
  }

  /** The store's codebook, if this is an IVF-partitioned index. */
  def readCentroids(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(centroidsPath(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(centroidsPath(path))) else None
  }

  /** Cell-pruned tenant read: rank the codebook by distance to the query
    * vector (centroids are config-sized — a driver-side collect, the same
    * way a real IVF index keeps its codebook in memory) and scan only the
    * `nprobe` nearest cells' FILES. Latest-per-id within the pruned slice,
    * same staleness caveat as [[readLatestPruned]]. */
  def readLatestPrunedIvf(spark: SparkSession, path: String, alias: String,
                          queryVec: Array[Float], nprobe: Int): DataFrame = {
    val cells = readCentroids(spark, path) match {
      case None => Seq.empty[String]
      case Some(cdf) =>
        cdf.collect().map { r =>
          val id = r.getLong(r.fieldIndex("centroid_id"))
          // codebooks written before round 6 carry float centroids, the
          // portable build writes round-6 doubles — accept both
          val c = r.getSeq[Any](r.fieldIndex("centroid")).map {
            case f: Float => f.toDouble
            case d: Double => d
          }
          var s = 0.0
          var i = 0
          val n = math.min(c.length, queryVec.length)
          while (i < n) { val d = c(i) - queryVec(i); s += d * d; i += 1 }
          (s, id)
        }.sortBy(identity).take(nprobe).map(t => diskCell(t._2)).toSeq
    }
    latestView(spark, path, alias, df =>
      // the tombstone partition stays visible in every probe set
      if (cells.nonEmpty && df.columns.contains(CellCol))
        df.where(col(CellCol).isin((cells :+ TombPartition): _*) ||
          col(CellCol).isNull)
      else df.where(lit(false))
    ).drop(CellCol)
  }

  // ---------------- compaction: generation zone + folded-delta manifest ----

  /** Base-zone root: compacted generations live under an underscore-prefixed
    * dir INSIDE the index path, so raw parquet scans of `path` never see
    * them and `drop` removes everything. Each compaction writes one whole
    * new generation dir `gen_<id>` (strictly increasing `id`, exactly one
    * tenant per generation) holding:
    *
    *   - `index_alias=<a>/...` — the tenant's resolved rows (Spark-written,
    *     layout partition columns preserved);
    *   - `_folded_deltas` — manifest of the delta-zone files whose rows were
    *     folded into this generation (paths relative to the index root);
    *   - `_graft_committed` — the commit marker, created LAST. A generation
    *     without it is invisible to every reader.
    *
    * Readers pick, per tenant, the highest-numbered committed generation and
    * union it with the delta files NOT named in its manifest. Nothing live
    * is ever renamed or deleted at publish time: folded delta files stay on
    * disk (excluded via the manifest) until the NEXT generation is
    * published, and the previous generation is likewise retained for one
    * cycle — so an in-flight reader's snapshot (its file list) stays
    * readable for a full compaction cycle after it is superseded. A crash
    * at ANY point leaves either a partial generation without the marker
    * (ignored by readers, removed by the next compaction) or a committed
    * generation (readers switch atomically on the marker's existence).
    * Concurrent APPENDS during compaction are safe — their files are in no
    * manifest, so they stay visible as delta; concurrent compactions of the
    * SAME tenant are not (single compactor per tenant, as with any
    * OPTIMIZE). */
  private def baseRoot(path: String): String = s"$path/_graft_base"

  private val CommitMarker = "_graft_committed"
  private val FoldedManifest = "_folded_deltas"

  private val genCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  private def nextGenId(): Long =
    (System.currentTimeMillis() << 10) | (genCounter.incrementAndGet() & 0x3ff)

  private def genIdOf(name: String): Long =
    scala.util.Try(name.stripPrefix("gen_").toLong).getOrElse(-1L)

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
      .sortBy(s => -genIdOf(s.getPath.getName))
      .map(_.getPath)
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

  /** Parquet relations reused across reads, one generation slot and one
    * delta slot per (session, index path, tenant), each tagged with the
    * key of the file set it was read from: the committed generation's
    * directory (immutable once its marker lands) or the sorted active delta
    * files (append-only). A `spark.read.parquet` relation freezes its file
    * listing and inferred schema, so a slot whose key equals the current
    * [[tenantView]] listing reads exactly what a fresh relation would —
    * without the listing and the footer-inference job. Any write changes
    * the listing, hence the key, and replaces the slot on the next read. */
  private val relations =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String, String),
      (Seq[String], DataFrame)]()

  private def reuse(spark: SparkSession, path: String, alias: String, slot: String,
                    key: Seq[String])(read: => DataFrame): DataFrame = {
    val k = (spark, path, alias, slot)
    Option(relations.get(k)).filter(_._1 == key).map(_._2).getOrElse {
      val df = read
      relations.put(k, (key, df))
      df
    }
  }

  private def viewFrame(spark: SparkSession, path: String, alias: String,
                        gen: Option[org.apache.hadoop.fs.Path],
                        deltas: Seq[String]): DataFrame = {
    val base = gen.map(g => reuse(spark, path, alias, "gen", Seq(g.toString))(
      spark.read.parquet(g.toString).where(col("index_alias") === alias)))
    val delta =
      if (deltas.isEmpty) None
      else {
        val files = deltas.sorted
        // basePath keeps partition-column discovery (index_alias + layout
        // cols) rooted at the index even though we hand Spark leaf files.
        Some(reuse(spark, path, alias, "delta", files)(
          spark.read.option("basePath", path).parquet(files.map(d => s"$path/$d"): _*)))
      }
    (base, delta) match {
      case (Some(b), Some(d)) => b.unionByName(d, allowMissingColumns = true)
      case (Some(b), None) => b
      case (None, Some(d)) => d
      case (None, None) =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          .where(col("index_alias") === alias)
    }
  }

  /** Remove now-empty delta directories bottom-up (layout subdirs, then the
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
    * micro-batch. Layout-preserving: the LSH bucket / IVF cell partition
    * column is kept if present, so pruned reads behave identically after
    * compaction. Publication follows the generation + manifest protocol
    * documented at [[baseRoot]]; retirement is retention-gated: a
    * superseded generation (and the delta files its successor folded) is
    * deleted only once the successor has been committed for at least
    * `retainMillis`, so no reader that started inside the retention window
    * can lose a file from under its snapshot. A crash at any point never
    * loses the only copy of a row. `retainMillis = 0` reproduces immediate
    * retirement (only safe with no concurrent readers).
    *
    * Returns the number of rows surviving compaction. */
  def compact(spark: SparkSession, path: String, alias: String,
              retainMillis: Long = DefaultRetainMillis): Long = {
    val fs = fileSystem(spark, path)
    val (prevGen, active, allDeltas) = tenantView(spark, path, alias)
    val resolved = latestPerId(viewFrame(spark, path, alias, prevGen, active))
      // ids whose newest record is a tombstone leave the store HERE —
      // after vacuum's retention window their bytes are gone from disk
      .transform(df =>
        if (!df.columns.contains("is_deleted")) df
        else df.where(!coalesce(col("is_deleted"), lit(false))))
    val layoutCols = Seq(BucketCol, CellCol, NodeBucketCol)
      .filter(resolved.columns.contains)
    val genDir = new org.apache.hadoop.fs.Path(baseRoot(path), s"gen_${nextGenId()}")
    stampIngest(resolved)
      .write.partitionBy(("index_alias" +: layoutCols): _*)
      .parquet(genDir.toString)
    if (!fs.exists(new org.apache.hadoop.fs.Path(genDir, aliasDirName(alias)))) {
      // Empty tenant: a zero-row dynamic-partition write emits no tenant
      // dir, so there is nothing to publish — remove the empty generation
      // and leave the store untouched.
      fs.delete(genDir, true)
      return 0L
    }
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
    vacuum(spark, path, alias, retainMillis)
    read(spark, path, alias).count()
  }

  /** Retention-gated retirement of superseded files (see [[compact]]):
    * for each adjacent committed-generation pair, once the newer one has
    * been committed for `retainMillis` no reader can still hold the older
    * view — delete the older generation, the delta files the newer one
    * folded, and any uncommitted same-tenant debris older than the window
    * (a crashed compaction's partial write; never reader-visible). */
  def vacuum(spark: SparkSession, path: String, alias: String,
             retainMillis: Long = DefaultRetainMillis): Unit = {
    val fs = fileSystem(spark, path)
    val now = System.currentTimeMillis()
    def ageOf(p: org.apache.hadoop.fs.Path): Long =
      now - fs.getFileStatus(p).getModificationTime
    val committed = gensFor(fs, path, alias, committedOnly = true)
    def aged(g: org.apache.hadoop.fs.Path): Boolean =
      ageOf(new org.apache.hadoop.fs.Path(g, CommitMarker)) >= retainMillis
    // Folded delta files: only pre-G views reference the files G folded, so
    // they are deletable once G itself has been committed for the window.
    committed.filter(aged).foreach(g => readFolded(fs, g).foreach(rel =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$rel"), false)))
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

  /** On-disk bytes of the tenant's current view — its newest committed
    * generation's files plus the active deltas, from the same listing a
    * read plans over (FS metadata only, no Spark job). Superseded
    * generations and folded deltas still retained for in-flight readers
    * are not counted; superseded versions and tombstones inside the active
    * deltas are, so it is an upper bound of the latest slice's size. A file
    * retired by a concurrent vacuum between the listing and its size probe
    * counts zero. */
  def footprintBytes(spark: SparkSession, path: String, alias: String): Long = {
    val fs = fileSystem(spark, path)
    val (gen, active, _) = tenantView(spark, path, alias)
    def bytes(p: org.apache.hadoop.fs.Path): Long =
      scala.util.Try(fs.getContentSummary(p).getLength).getOrElse(0L)
    gen.map(g => bytes(new org.apache.hadoop.fs.Path(g, aliasDirName(alias)))).getOrElse(0L) +
      active.map(d => bytes(new org.apache.hadoop.fs.Path(s"$path/$d"))).sum
  }

  /** Committed generation ids for a tenant, newest first — the time-travel
    * catalog. Each committed generation is a CONSISTENT snapshot (compact
    * folds every delta file on disk into the new generation before the
    * commit marker lands), so any retained id can be read as-of via
    * [[readGeneration]]. [[vacuum]]'s retention window bounds how far back
    * the catalog reaches — the table-format time-travel contract. */
  def generations(spark: SparkSession, path: String, alias: String): Seq[Long] = {
    val fs = fileSystem(spark, path)
    gensFor(fs, path, alias, committedOnly = true).map(p => genIdOf(p.getName))
  }

  /** Snapshot (time-travel) read: the tenant exactly as folded at the given
    * committed generation's publish — deltas appended and generations
    * committed AFTER it are excluded, because the generation dir itself IS
    * the folded state (no manifest chasing needed). Throws if the id is
    * unknown, not committed, or already vacuumed past retention. */
  def readGeneration(spark: SparkSession, path: String, alias: String,
                     genId: Long): DataFrame = {
    val fs = fileSystem(spark, path)
    val gen = gensFor(fs, path, alias, committedOnly = true)
      .find(p => genIdOf(p.getName) == genId)
      .getOrElse(throw new IllegalArgumentException(
        s"generation $genId of '$alias' does not exist (committed ids: " +
          s"${generations(spark, path, alias).mkString(", ")})"))
    viewFrame(spark, path, alias, Some(gen), Seq.empty)
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
    * Scale shape — this is the serving read under every search, so neither
    * planning it nor the upsert resolution may cost a pass over the tenant:
    *   - every read lists the tenant's files (FS metadata only, no Spark
    *     job) and plans over the parquet relations already read for the
    *     same generation dir and the same active delta files (see
    *     [[relations]]): a tenant unchanged since the previous read plans
    *     with zero jobs, and any write is seen on the very next read;
    *   - zero active deltas (the steady state right after [[compact]]): the
    *     committed generation is already latest-resolved, so the read IS the
    *     raw pruned scan — no window, no exchange;
    *   - active deltas present: only ids that appear in the delta set can be
    *     contested. Deltas are small by the compaction invariant, so their id
    *     set BROADCASTS — the generation bulk passes through a broadcast
    *     anti-join untouched (narrow), and the window runs solely over
    *     (contested generation rows ∪ delta rows). */
  def readLatest(spark: SparkSession, path: String, alias: String): DataFrame =
    latestView(spark, path, alias, identity)

  /** Bucket-pruned tenant read for a bucketed index ([[appendBucketed]]):
    * only the probe buckets' files are listed and scanned. Latest-per-id is
    * resolved WITHIN the pruned slice (same delta-aware shape as
    * [[readLatest]]) — correct because a record's bucket is
    * a pure function of its vector, so re-ingests of identical content land
    * in the same bucket; a document whose content (hence vector) changed may
    * briefly surface its previous version from a non-probed bucket, the same
    * staleness window an HNSW rebuild has. */
  def readLatestPruned(spark: SparkSession, path: String, alias: String,
                       probes: Seq[String]): DataFrame = {
    val diskProbes = probes.map(diskBucket)
    latestView(spark, path, alias, df =>
      // the tombstone partition (and any NULL-layout row) stays visible in
      // every probe set so a delete masks its id under any probe selection
      if (df.columns.contains(BucketCol))
        df.where(col(BucketCol).isin((diskProbes :+ TombPartition): _*) ||
          col(BucketCol).isNull)
      else df.where(lit(false)) // empty/unbucketed index: no approximate hits
    ).drop(BucketCol)
  }

  /** One tenant's view as SEPARATE generation/delta frames (never unioned),
    * so the upsert resolution can treat the pre-resolved generation bulk
    * differently from the small delta overlay. */
  private def splitView(spark: SparkSession, path: String, alias: String)
      : (Option[DataFrame], Option[DataFrame]) = {
    val (gen, active, _) = tenantView(spark, path, alias)
    (gen.map(g => viewFrame(spark, path, alias, Some(g), Seq.empty)),
      if (active.isEmpty) None
      else Some(viewFrame(spark, path, alias, None, active)))
  }

  /** The delta-aware latest-per-id resolution behind [[readLatest]] /
    * [[readLatestPruned]] / [[readLatestPrunedIvf]]. `prune` is applied to
    * BOTH sides before resolution (bucket/cell file pruning), so the
    * broadcast split composes with the approximate layouts. */
  private def latestView(spark: SparkSession, path: String, alias: String,
                         prune: DataFrame => DataFrame): DataFrame = {
    val (genDf, deltaDf) = splitView(spark, path, alias)
    resolveLatest(spark, path, alias, genDf, deltaDf, prune)
  }

  /** The delta-overlay resolution shared by [[latestView]] and the
    * serving-path [[nodePointFetcher]] (which resolves the file view once
    * and re-applies only the prune per call). */
  private def resolveLatest(spark: SparkSession, path: String, alias: String,
                            genDf: Option[DataFrame], deltaDf: Option[DataFrame],
                            prune: DataFrame => DataFrame): DataFrame = {
    val resolved = (genDf.map(prune), deltaDf.map(prune)) match {
      case (None, None) =>
        prune(viewFrame(spark, path, alias, None, Seq.empty)).drop("ingest_seq")
      // compact() wrote latestPerId output: one row per id, no window needed.
      case (Some(g), None) => g.drop("ingest_seq")
      case (None, Some(d)) => latestPerId(d)
      case (Some(g), Some(d)) =>
        val deltaIds = d.select("id").distinct()
        val untouched = g.join(broadcast(deltaIds), Seq("id"), "left_anti")
        val contested = g.join(broadcast(deltaIds), Seq("id"), "left_semi")
        latestPerId(contested.unionByName(d, allowMissingColumns = true))
          .unionByName(untouched.drop("ingest_seq"), allowMissingColumns = true)
    }
    dropTombstones(resolved)
  }

  /** Serving-resident point-lookup fetcher for a node-bucketed store: the
    * tenant's file view (generation + delta relations, with their file
    * indexes) resolves ONCE at construction; each call plans a
    * bucket-pruned latest read over the CACHED relations — PartitionFilters
    * on [[NodeBucketCol]], no per-call directory listing. This is the
    * walk's per-round fetch shape: cost scales with the frontier's
    * buckets, never the index. */
  def nodePointFetcher(spark: SparkSession, path: String, alias: String)
      : Seq[Long] => DataFrame = {
    val (genDf, deltaDf) = splitView(spark, path, alias)
    nodeIds => {
      val probes = nodeIds.map(n =>
        "n" + java.lang.Math.floorMod(n, GraphNodeBuckets.toLong)).distinct
      resolveLatest(spark, path, alias, genDf, deltaDf, df =>
        if (df.columns.contains(NodeBucketCol))
          df.where(col(NodeBucketCol).isin((probes :+ TombPartition): _*) ||
            col(NodeBucketCol).isNull)
        else df
      ).drop(NodeBucketCol)
    }
  }

  /** Serve only live rows: an id whose NEWEST record is a tombstone
    * disappears; the flag column never leaves the store layer. Narrow —
    * resolution already happened. */
  private def dropTombstones(df: DataFrame): DataFrame =
    if (!df.columns.contains("is_deleted")) df
    else df.where(!coalesce(col("is_deleted"), lit(false))).drop("is_deleted")

  private def latestPerId(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    if (!df.columns.contains("ingest_seq")) df.dropDuplicates("id")
    else {
      val w = Window.partitionBy(col("id")).orderBy(col("ingest_seq").desc)
      df.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .drop("rn", "ingest_seq")
    }
  }
}
