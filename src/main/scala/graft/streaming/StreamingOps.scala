package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming twin of the batch ingestion/aggregation path — the
  * reference is pure batch (SURVEY.md §1.4), so this is the north-star
  * streaming variant: `readStream` -> event-time windowed aggregation ->
  * sink. At scale this runs continuously with watermarked state; for the
  * finite test fixture we drive it with `processAllAvailable` on a memory
  * sink in complete mode so the result equals the batch aggregation
  * (oracle-checkable).
  */
object StreamingOps {

  /** Default state-store partition count for the stateful streaming
    * queries. Stateful operators bake `spark.sql.shuffle.partitions` into
    * the checkpoint as the state partition count, and every micro-batch
    * pays task-scheduling plus state-store commit overhead PER PARTITION —
    * so this must be sized to expected state volume (keys in state /
    * target keys per store), NOT inherited from the session's batch
    * shuffle parallelism. Inheriting a CPU-sized batch default (e.g. 32)
    * measured ~9x slower end-to-end on the interval join than a
    * state-sized count, with identical results. */
  val DefaultStatePartitions = 8

  /** Run `f` (which must both START and STOP its streaming query) with the
    * session's shuffle-partition conf pinned to `n`, restoring the batch
    * setting afterwards. The pinned value is captured by the query AT START
    * and persists in its checkpoint; the surrounding batch plan is
    * unaffected. Queries here run serially per session, so the temporary
    * session-conf flip cannot leak into a concurrent batch plan. */
  def withStatePartitions[A](spark: SparkSession,
                             n: Int = DefaultStatePartitions,
                             noDataBatch: Boolean = true)(f: => A): A = {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val beforeNd = spark.conf
      .get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    // r13 (§1.5-measured): a watermarked APPEND drain schedules one extra
    // no-data micro-batch after the data drains, purely to advance the
    // watermark and evict state — ~1 s of state-store load/commit per
    // drain at 8 partitions (streamstate probe: batch1 rows=0,
    // addBatch≈0.9-1.4 s). For drains whose OUTPUT is complete after the
    // data batches (eager-emit dedup, stream-stream INNER join), skipping
    // it changes nothing the sink sees; pass noDataBatch=false there.
    // Drains whose output is EMITTED BY the watermark batch (left-outer
    // join's null-padded rows, append-mode window close, TWS timers) must
    // keep the default.
    if (!noDataBatch)
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try f finally {
      spark.conf.set("spark.sql.shuffle.partitions", before)
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", beforeNd)
    }
  }

  /** Stream-read the events fixture; `ts` arrives as long nanos or
    * TIMESTAMP_NTZ depending on fixture generation — normalize to TIMESTAMP
    * (watermarks require the LTZ type) via the shared batch normalizer. */
  private[streaming] def readEvents(spark: SparkSession, eventsPath: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsPath).schema
    // readStream wants a directory; point it at the parent and glob-filter
    // down to the events file(s).
    val p = new org.apache.hadoop.fs.Path(eventsPath)
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", p.getName)
      .parquet(p.getParent.toString)
    graft.operators.EventsOps.withEventTs(raw)
  }

  /** Run the tumbling-window streaming aggregation over a (finite) parquet
    * events directory and return the materialized result. */
  def windowAggOnce(spark: SparkSession, eventsPath: String,
                    every: String = "1 hour",
                    queryName: String = "graft_stream_agg"): DataFrame = {
    val stream = readEvents(spark, eventsPath)
    val agg = stream
      .groupBy(window(col("ts"), every).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
    withStatePartitions(spark) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** Stream-static enrichment: the streaming events joined to a STATIC
    * dimension (no state, no watermark — the dimension is a plain batch
    * DataFrame re-planned per micro-batch, and at dimension sizes like
    * these it broadcasts, so the stream side never shuffles for the join),
    * then a streaming aggregation over the enriched rows. This is the
    * third join topology next to the stream-stream interval join
    * ([[joinAttributionOnce]]) and the batch joins: the production shape
    * for "tag every event with its account's segment as it arrives". */
  def enrichStaticOnce(spark: SparkSession, eventsPath: String, dim: DataFrame,
                       dimKey: String, streamKey: String = "user_id",
                       segCol: String = "c_mktsegment",
                       queryName: String = "graft_stream_enrich"): DataFrame = {
    val stream = readEvents(spark, eventsPath)
    val enriched = stream.join(broadcast(dim),
      col(streamKey) === col(dimKey), "inner")
    // distinct aggregates are unsupported on streams: run the streaming agg
    // at (segment, type, USER) grain — per-group state stays a few counters,
    // keyspace is users x types — and fold to the final grain in a batch
    // re-agg over the sink, where n_users is a plain row count.
    val agg = enriched
      .groupBy(col(segCol).as("segment"), col("event_type"), col(streamKey).as("uid"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
    withStatePartitions(spark) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
      .groupBy(col("segment"), col("event_type"))
      .agg(sum(col("n_events")).as("n_events"),
        round(sum(col("sum_value")), 4).as("sum_value"),
        count(lit(1)).as("n_users"))
  }

  /** Streaming exact dedup: `dropDuplicates` on the content key with a
    * watermark bounding the dedup state (the production continuous-dedup
    * shape — state holds only keys newer than the watermark). Driven once
    * over the finite fixture for testing. */
  def dedupStreamOnce(spark: SparkSession, eventsPath: String,
                      keyCols: Seq[String], watermark: String = "1 hour",
                      queryName: String = "graft_stream_dedup"): DataFrame = {
    val stream = readEvents(spark, eventsPath)
    withStatePartitions(spark, noDataBatch = false) {
      val q = stream
        .withWatermark("ts", watermark)
        .dropDuplicates(keyCols :+ "ts")
        .writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** Streaming dedup via dropDuplicatesWithinWatermark (Spark 3.5+): keeps
    * the FIRST row per key and evicts a key's state once the watermark
    * passes its last-seen event time — the API for "the same logical
    * record may arrive twice within the delay window, with drifting
    * event-time stamps" ingest dedup, where plain dropDuplicates over
    * (keys, ts) would NOT collapse the re-send. Only the key columns are
    * projected: which physical row arrives first is an execution accident,
    * the surviving KEY SET is exact — same convention as
    * [[dedupByBucketOnce]]. */
  def dedupWithinWatermarkOnce(spark: SparkSession, eventsPath: String,
                               keyCols: Seq[String], watermark: String = "1 hour",
                               queryName: String = "graft_stream_dedup_wm"): DataFrame = {
    val stream = readEvents(spark, eventsPath)
    withStatePartitions(spark, noDataBatch = false) {
      val q = stream
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keyCols)
        .select(keyCols.map(col): _*)
        .writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** Streaming dedup on (keys, event-time bucket): keep one event per key
    * per `bucket` of event time — the continuous form of "one sample per
    * user per day" training-data downsampling. The truncated event-time
    * column carries the watermark AND is part of the dedup key, so the
    * dedup state for a bucket is evicted once the watermark passes it —
    * bounded state however long the stream runs. Only the key columns are
    * projected: which physical row survives a collision is
    * execution-order-dependent, but the surviving KEY SET is deterministic
    * and equals batch DISTINCT (oracle-checkable). */
  def dedupByBucketOnce(spark: SparkSession, eventsPath: String,
                        keyCols: Seq[String], bucket: String = "day",
                        watermark: String = "1 hour",
                        queryName: String = "graft_stream_dedup_bucket"): DataFrame = {
    val deduped = readEvents(spark, eventsPath)
      .withColumn("ts_bucket", date_trunc(bucket, col("ts")))
      .withWatermark("ts_bucket", watermark)
      .dropDuplicates(keyCols :+ "ts_bucket")
      .select(keyCols.map(col) :+ col("ts_bucket"): _*)
    withStatePartitions(spark, noDataBatch = false) {
      val q = deduped.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** Stream-stream INNER join with an event-time interval condition:
    * view -> purchase attribution within `withinSeconds`, per user. Both
    * sides carry watermarks and the join condition bounds purchase_ts to a
    * window around view_ts, so each side's buffered state is GC'd once the
    * other side's watermark passes — the production shape (an unconstrained
    * stream-stream join would buffer both streams forever). Inner-join
    * output over a finite fixture is exactly the batch interval join, so the
    * result is DuckDB-oracle-checkable. */
  def attributionJoinOnce(spark: SparkSession, eventsPath: String,
                          withinSeconds: Long = 1800L,
                          delay: String = "1 hour",
                          queryName: String = "graft_stream_attrib"): DataFrame = {
    val views = readEvents(spark, eventsPath)
      .where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", delay)
    val purchases = readEvents(spark, eventsPath)
      .where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", delay)
    val joined = views.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") < col("view_ts") + expr(s"INTERVAL $withinSeconds SECONDS"))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        round(col("value"), 4).as("purchase_value"))
    withStatePartitions(spark, noDataBatch = false) {
      val q = joined.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** Stream-stream LEFT OUTER interval join: like [[attributionJoinOnce]]
    * but views with NO purchase in the window also emit (null purchase
    * columns) — and they can only emit once the watermark proves no match
    * can still arrive, which is the semantics under test. The unmatched
    * row for a view materializes when the watermark passes view_ts +
    * interval; the exact eviction boundary is engine-internal, so callers
    * who want a deterministic comparison against a batch left join must
    * cut the output at a view_ts safely below
    * max(ts) - delay - interval (see the gate query, which keeps a 60 s
    * margin). */
  def attributionJoinLeftOuterOnce(spark: SparkSession, eventsPath: String,
                                   withinSeconds: Long = 1800L,
                                   delay: String = "1 hour",
                                   queryName: String = "graft_stream_attrib_lo")
      : DataFrame = {
    val views = readEvents(spark, eventsPath)
      .where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", delay)
    val purchases = readEvents(spark, eventsPath)
      .where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", delay)
    val joined = views.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") < col("view_ts") + expr(s"INTERVAL $withinSeconds SECONDS"),
        "leftOuter")
      .select(col("user_id"), col("view_id"), col("view_ts"),
        col("purchase_id"), round(col("value"), 4).as("purchase_value"))
    withStatePartitions(spark) {
      val q = joined.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** Streaming sessionization via the NATIVE `session_window` aggregation —
    * the built-in complement to the flatMapGroupsWithState sessionizer
    * ([[StatefulSessionize]]): Spark merges overlapping per-event windows
    * [ts, ts+gap) into sessions inside the aggregation state, so a session
    * closes exactly when the next event is >= gap after the previous one.
    * NOTE the boundary differs from a `diff > gap` formulation by the
    * equality case: a gap of exactly `gap` STARTS a new session here — the
    * oracle must compare with `>=` at microsecond precision. Driven in
    * complete mode over the finite fixture (production runs append mode
    * with a watermark; state then holds only open sessions). */
  def sessionWindowAggOnce(spark: SparkSession, eventsPath: String,
                           gap: String = "30 minutes",
                           queryName: String = "graft_stream_sessions"): DataFrame = {
    val stream = readEvents(spark, eventsPath)
    val agg = stream
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        round(sum(col("value")), 4).as("session_value"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("session_value"))
    withStatePartitions(spark) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** Watermarked append-mode variant (the production shape at scale: bounded
    * state, late data dropped past the watermark). Emits only closed windows,
    * so for a finite fixture the final window is withheld — production
    * semantics, not oracle-comparable; covered by ScalaTest. */
  def windowAggWatermarked(spark: SparkSession, eventsPath: String,
                           every: String = "1 hour", watermark: String = "2 hours",
                           queryName: String = "graft_stream_agg_wm"): DataFrame = {
    val stream = readEvents(spark, eventsPath)
    val agg = stream
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), every).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))
    withStatePartitions(spark) {
      val q = agg.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** Count-min sketch counters maintained as STREAMING aggregation state:
    * each arriving document explodes to (j, bucket) occurrence rows and
    * the depth×width counter table is the running groupBy state — the
    * streaming face of [[graft.operators.CorpusStats.cmsCounters]]. The
    * state is bounded at depth×width rows REGARDLESS of stream length
    * (the whole point of sketching a stream: no watermark needed, the
    * state never grows), and cell-wise addition makes every micro-batch a
    * partial-state merge. Over a finite fixture the final counters equal
    * the batch build exactly, so the estimate surface gates against the
    * SAME oracle as the batch query. */
  def cmsCountersOnce(spark: SparkSession, docsPath: String, textCol: String,
                      depth: Int, width: Int,
                      queryName: String = "graft_stream_cms"): DataFrame = {
    require(depth >= 1 && width >= 2)
    val schema = spark.read.parquet(docsPath).schema
    val p = new org.apache.hadoop.fs.Path(docsPath)
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", p.getName)
      .parquet(p.getParent.toString)
    val counters = graft.operators.CorpusStats.cmsHash(
        raw.select(explode(
          graft.functions.TextFunctions.wsTokens(lower(col(textCol)))).as("token")))
      .select(explode(sequence(lit(0), lit(depth - 1))).as("j"),
        col("__h1"), col("__h2"))
      .withColumn("bucket", (col("__h1") + col("j") * col("__h2")) % width)
      .groupBy(col("j"), col("bucket")).agg(count(lit(1)).as("cnt"))
    withStatePartitions(spark) {
      val q = counters.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** Streamed vector-to-centroid assignment counts — MODEL SERVING in the
    * stream: the codebook is trained in batch
    * ([[graft.operators.KMeans.centroidsDF]], collected — model-sized, the
    * Lloyd cadence), each micro-batch assigns rows with the row-local
    * [[graft.operators.KMeans.assignUdf]] (identical arithmetic + tie-break
    * to the distributed trainer; chained stateful aggs are illegal in a
    * stream, which is WHY serving assignment must be row-local), and the
    * per-cluster counts are the only state (k rows, mergeable). Gated
    * against the batch assignment's cluster histogram — the same
    * state == batch law as the CMS/PSI/LSH streaming twins. */
  def clusterCountsOnce(spark: SparkSession, vecPath: String, vecCol: String,
                        cents: Array[(Int, Array[Double])],
                        queryName: String = "graft_stream_kmeans"): DataFrame = {
    val schema = spark.read.parquet(vecPath).schema
    val p = new org.apache.hadoop.fs.Path(vecPath)
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", p.getName)
      .parquet(p.getParent.toString)
    val counts = raw
      .withColumn("cluster",
        graft.operators.KMeans.assignUdf(cents)(col(vecCol).cast("array<double>")))
      .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
    withStatePartitions(spark) {
      val q = counts.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** Streamed point-in-time SCD2 enrichment: each event joins the
    * dimension VERSION valid at its event time (`valid_from <= ep <
    * valid_to`, open-ended current rows) — the feature-store law
    * ([[graft.operators.Scd2.pitJoin]]) applied stream-side, so late
    * events pick up the attribute as of when they HAPPENED, not the
    * current row. The dim is a static broadcast (stream-static joins
    * accept the interval residual); SCD2 disjointness caps matches at 1
    * per event; per-(tier, type) counters are the only state. */
  def scd2EnrichOnce(spark: SparkSession, eventsPath: String, dim: DataFrame,
                     queryName: String = "graft_stream_scd2"): DataFrame = {
    val stream = readEvents(spark, eventsPath)
      .withColumn("ep", unix_timestamp(col("ts")))
    val joined = stream.join(broadcast(dim),
      col("user_id") === dim("uid") && dim("valid_from") <= col("ep") &&
        (dim("valid_to").isNull || dim("valid_to") > col("ep")))
    val agg = joined.groupBy(col("tier"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
    withStatePartitions(spark) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** Observed (event_type, hour) slots as complete-mode aggregation state
    * — the streamed observation side of the data-arrival completeness
    * audit. State is slot-keyed (types × span hours), not row-keyed. */
  def hourSlotsOnce(spark: SparkSession, eventsPath: String,
                    queryName: String = "graft_stream_gaps"): DataFrame = {
    val agg = readEvents(spark, eventsPath)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    withStatePartitions(spark) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName).select(col("event_type"), col("h"))
  }

  /** The PSI drift monitor's CURRENT side as streaming aggregation state:
    * bucket counts under the STATIC reference grid (lo/hi computed from the
    * reference batch before the stream starts — the production shape: the
    * reference is yesterday's corpus, the stream is today's ingest).
    * State is nBuckets rows however long the stream runs; counts add
    * cell-wise (the mergeable-state law), so
    * [[graft.operators.CorpusStats.psiFromCounts]] folds the final table
    * into the identical score the batch monitor computes. */
  def psiBucketCountsOnce(spark: SparkSession, eventsPath: String,
                          sideFilter: org.apache.spark.sql.Column,
                          valueCol: String, lo: Double, hi: Double,
                          nBuckets: Int,
                          queryName: String = "graft_stream_psi"): DataFrame = {
    val stream = readEvents(spark, eventsPath).where(sideFilter)
    val counts = stream.where(col(valueCol).isNotNull)
      .select(graft.operators.CorpusStats
        .psiBucket(valueCol, lo, hi, nBuckets).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("n"))
    withStatePartitions(spark) {
      val q = counts.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** The mSPRT day-state table ([[graft.operators.StatsOps.msprtDayState]])
    * as STREAMING aggregation state: every column is a cell-wise-addable
    * sum (longs + exact decimals), so the complete-mode table equals the
    * batch groupBy row-for-row and
    * [[graft.operators.StatsOps.msprtFinishFromDays]] lands on the
    * identical peek table — the always-valid monitor as a live stream,
    * gated on the SAME oracle as the batch twin. State is one row per
    * observation day. */
  def msprtDayStateOnce(spark: SparkSession, eventsPath: String,
                        grp: org.apache.spark.sql.Column,
                        valueCol: String,
                        queryName: String = "graft_stream_msprt"): DataFrame = {
    val days = graft.operators.StatsOps.msprtDayState(
      readEvents(spark, eventsPath), valueCol, grp, "ts")
    withStatePartitions(spark) {
      val q = days.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** Per-unit ratio-metric sufficient statistics (u, g, Σx DECIMAL-exact,
    * event count) as streaming aggregation state — the live feed for the
    * delta-method ratio monitor ([[graft.operators.StatsOps.ratioDeltaTest]]).
    * Sums and counts add cell-wise, so the streamed state table equals the
    * batch per-unit groupBy exactly and the SAME batch finisher
    * ([[graft.operators.StatsOps.ratioDeltaFromUnits]]) produces the
    * identical one-row test — gated on the identical oracle. State is
    * unit-count-sized (never event-sized); driven complete over the finite
    * fixture for the batch-parity gate. */
  def ratioUnitStateOnce(spark: SparkSession, eventsPath: String,
                         grp: org.apache.spark.sql.Column,
                         valueCol: String,
                         queryName: String = "graft_stream_ratio_units"): DataFrame = {
    val units = graft.operators.StatsOps.ratioUnitState(
      readEvents(spark, eventsPath), "user_id", valueCol, grp)
    withStatePartitions(spark) {
      val q = units.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** Per-(type, day) event counts as streaming aggregation state — the
    * feed for the volume-anomaly monitor (counts add cell-wise, so the
    * streamed table equals the batch groupBy; the z-score step runs on the
    * model-sized result). State is types x days rows; with a watermark on
    * the day column this is the standard bounded continuous shape — driven
    * complete over the finite fixture for the batch-parity gate. */
  def dayCountsOnce(spark: SparkSession, eventsPath: String,
                    queryName: String = "graft_stream_days"): DataFrame = {
    val counts = readEvents(spark, eventsPath)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    withStatePartitions(spark) {
      val q = counts.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // Re-materialize off the memory sink: MemoryPlan does not re-instance
    // its attributes, so a consumer that SELF-JOINS the returned frame
    // (the two-pass z-score does) would hit "conflicting references".
    // The table is state-sized (types x days), so the copy is noise.
    val raw = spark.table(queryName)
    spark.createDataFrame(raw.rdd, raw.schema)
  }

  /** Streaming MinHash-LSH near-dup index: the LSH candidate-bucket table
    * ((band_idx, band_key) -> canonical representative + member count)
    * maintained as a streaming aggregation — near-dup detection for a
    * continuously ingesting corpus, the sketch-state sibling of
    * [[cmsCountersOnce]] (the index IS the state; its size is
    * bands x docs fixed-width rows, never the text). Per micro-batch the
    * signature/band computation is one ZERO-shuffle compiled pass
    * ([[graft.operators.Dedup.minhashBandKeysFast]], the md5 family the
    * DuckDB oracle replays), so a new batch folds into the buckets with one keyed
    * partial-agg merge. min(doc_id) is the batch Dedup canonical-min
    * convention; a bucket with n_members >= 2 names a candidate near-dup
    * group an ingest gate would route to exact verification. Over the
    * finite fixture the final table equals the batch build row-for-row
    * (shared oracle). */
  def lshBucketsOnce(spark: SparkSession, docsPath: String, textCol: String,
                     idCol: String, numHashes: Int, bands: Int,
                     queryName: String = "graft_stream_lsh"): DataFrame = {
    val schema = spark.read.parquet(docsPath).schema
    val p = new org.apache.hadoop.fs.Path(docsPath)
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", p.getName)
      .parquet(p.getParent.toString)
    val sh = raw.select(col(idCol).as("doc_id"),
        graft.operators.Dedup.shinglesFast(2)(col(textCol)).as("sh"))
      .where(size(col("sh")) > 0)
    val banded = sh.select(col("doc_id"),
        posexplode(graft.operators.Dedup.minhashBandKeysFast(numHashes, bands)(col("sh"))))
      .select(col("doc_id"), col("pos").cast("int").as("band_idx"),
        col("col").as("band_key"))
    val buckets = banded.groupBy(col("band_idx"), col("band_key"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_members"))
    withStatePartitions(spark) {
      val q = buckets.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** Streamed inverted-index maintenance: the BM25 postings table built as
    * complete-mode aggregation STATE — the incremental-index story for the
    * lexical tier (batch posting builds rebuild the world; a stream folds
    * each arriving document into its term rows). Per-document term
    * frequencies are computed ROW-LOCALLY before the explode (the per-doc
    * combine that makes state term×shard-sized, never token-stream-sized);
    * the only shuffle keys on (term, shard), exactly the batch
    * [[graft.operators.Bm25.postings]] shape. */
  def postingsOnce(spark: SparkSession, docsPath: String, nShards: Int = 4,
                   queryName: String = "graft_stream_postings"): DataFrame = {
    val schema = spark.read.parquet(docsPath).schema
    val p = new org.apache.hadoop.fs.Path(docsPath)
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", p.getName)
      .parquet(p.getParent.toString)
    val docTf = udf { (ws: Seq[String]) =>
      if (ws == null) Seq.empty[(String, Long)]
      else ws.groupBy(identity).map { case (t, g) => (t, g.size.toLong) }.toSeq
    }
    val tf = raw.select(col("doc_id").cast("long").as("doc_id"),
        explode(docTf(graft.functions.TextFunctions.wsTokens(lower(col("text")))))
          .as("e"))
      .select(col("doc_id"), col("e._1").as("term"), col("e._2").as("tf"))
    val posts = tf
      .withColumn("shard", pmod(col("doc_id"), lit(nShards.toLong)).cast("int"))
      .groupBy(col("term"), col("shard"))
      .agg(count(lit(1)).cast("long").as("df_shard"),
        array_sort(collect_list(struct(col("doc_id"), col("tf")))).as("p"))
      .select(col("term"), col("shard"), col("df_shard"),
        transform(col("p"), x => x.getField("doc_id")).as("doc_ids"),
        transform(col("p"), x => x.getField("tf")).as("tfs"))
    withStatePartitions(spark) {
      val q = posts.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** Streamed Bloom-filter maintenance: reference documents arrive as a
    * stream and fold their set bit positions into complete-mode
    * aggregation state — the filter state is AT MOST m rows (fixed-width
    * regardless of how much reference corpus has streamed past), the
    * textbook streaming-sketch shape. Returns the final position table;
    * the caller probes against it exactly like the batch build
    * ([[graft.operators.BloomSketch.build]]), and the gate compares the
    * whole probe output against the SAME oracle as the batch twin. */
  def bloomBitsOnce(spark: SparkSession, docsPath: String, k: Int, m: Int,
                    queryName: String = "graft_stream_bloom"): DataFrame = {
    val schema = spark.read.parquet(docsPath).schema
    val p = new org.apache.hadoop.fs.Path(docsPath)
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", p.getName)
      .parquet(p.getParent.toString)
    val fp = md5(array_join(
      slice(graft.functions.TextFunctions.wsTokens(lower(col("text"))), 1, 8), " "))
    val pos = raw.where(pmod(col("doc_id"), lit(3)) === 0)
      .select(explode(graft.operators.BloomSketch.keyPositions(fp, k, m)).as("pos"))
      .groupBy(col("pos")).agg(count(lit(1)).as("__n")) // state: <= m rows
      .select(col("pos"))
    withStatePartitions(spark) {
      val q = pos.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }

  /** Streamed REAL video decode — the multimodal_video_real pipeline with
    * payload synthesis and the Y4M container parse running INSIDE a
    * stateless streaming flatMap (the media-landing-zone shape: clips
    * arrive continuously, frames explode out). Exercises the same
    * [[graft.multimodal.VideoCodec.frameBands]] code path as the batch
    * twin, so the two share one oracle; append mode, ZERO state — the
    * decode is row-local, which is exactly why it streams for free. */
  def videoFramesOnce(spark: SparkSession, docsPath: String,
                      queryName: String = "graft_stream_video"): DataFrame = {
    import spark.implicits._
    val schema = spark.read.parquet(docsPath).schema
    val p = new org.apache.hadoop.fs.Path(docsPath)
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", p.getName)
      .parquet(p.getParent.toString)
    val media = raw.select(col("doc_id")).as[Long]
      .map(id => (id, graft.multimodal.VideoCodec.syntheticY4M(
        id, nFrames = (1 + id % 4).toInt)))
      .toDF("media_id", "payload")
    val frames = graft.multimodal.VideoCodec.frameBands(
      spark, media, stride = 2, featureDim = 4)
    withStatePartitions(spark) {
      val q = frames.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(queryName)
  }
}
