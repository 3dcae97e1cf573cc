package graft

import org.scalatest.funsuite.AnyFunSuite

/** Locks the physical-plan properties the engine is designed around (see
  * PLANS.md): scan pushdown, pruned read schemas, partial top-k, broadcast
  * strategy for small dims. A regression that silently de-optimizes a plan
  * fails here even though results stay correct.
  */
class PlanPropertiesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def planOf(q: String): String =
    SparkEntry.queries(q)(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString

  test("filters reach the parquet scan (q2)") {
    val p = planOf("q2_filter_sum")
    // toString truncates the filter list; the leading entries prove pushdown
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
  }

  test("projection prunes the read schema to referenced columns (q2)") {
    val p = planOf("q2_filter_sum")
    assert(!p.contains("l_returnflag"), "q2 must not read unreferenced columns")
  }

  test("top-k plans as TakeOrderedAndProject, not sort+limit (q6, knn)") {
    assert(planOf("q6_topk_orders").contains("TakeOrderedAndProject"))
    assert(planOf("knn_topk").contains("TakeOrderedAndProject"))
  }

  test("small dims broadcast (q3)") {
    val p = planOf("q3_join_broadcast")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
  }

  test("aggregations partial-aggregate map-side before the shuffle (q1)") {
    val p = planOf("q1_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial + final
  }

  test("the cosine expression compiles into whole-stage codegen (knn)") {
    val df = SparkEntry.queries("knn_topk")(spark, TestSpark.sf)
    df.collect() // finalize the adaptive plan so codegen stages materialize
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("cosine_sim"), p)
    // whole-stage-codegen'd operators print with the "*(n)" marker
    assert(p.contains("*("), p)
  }

  test("anti join plans as a hash anti join, never a nested loop (q17)") {
    val df = SparkEntry.queries("q17_anti_join")(spark, TestSpark.sf)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("range join plans as an equi hash join on the bucket, not BNLJ") {
    val df = SparkEntry.queries("events_range_join")(spark, TestSpark.sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("hash-Bernoulli sampling plans with no exchange at all") {
    import org.apache.spark.sql.functions.col
    val df = graft.operators.Sampling.bernoulli(
      spark.read.parquet(s"${TestSpark.sf}/documents.parquet"),
      col("doc_id"), 0.2, "s1").select("doc_id")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p) // pure map-side predicate
  }

  test("bucketed co-located join carries no shuffle exchange for the join") {
    // the whole point of the bucketed layout: with broadcast off, the join
    // over the two 8-bucket tables must read buckets in place — any
    // ShuffleExchange before the join means the layout was ignored
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // build the bucketed tables via the query itself, then inspect the
      // bare join (the query's groupBy legitimately shuffles on the group key)
      SparkEntry.queries("bucketed_join_colocated")(spark, TestSpark.sf).collect()
      import org.apache.spark.sql.functions.col
      val join = spark.table(SparkEntry.BucketedLineitemTable)
        .join(spark.table(SparkEntry.BucketedOrdersTable),
          col("l_orderkey") === col("o_orderkey"))
      join.collect()
      val p = join.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(!p.contains("ShuffleExchange"), p)
      assert(!p.contains("Exchange hashpartitioning"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ANN top-k partial-aggregates map-side; no window over the scored expansion") {
    val df = SparkEntry.queries("ann_bruteforce_batch")(spark, TestSpark.sf)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the bounded-buffer TopKBy aggregate plans as ObjectHashAggregate with
    // a partial pass before the exchange; a Window here would mean the full
    // corpus x queries scored expansion is shuffled just to cut to k
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_topkby"), p)
  }

  test("filtered ANN pushes the metadata predicate into the parquet scan") {
    // another suite may have cached the embeddings table in the shared
    // session — a cache would absorb the filter into InMemoryTableScan and
    // hide the parquet pushdown this test pins
    spark.catalog.clearCache()
    val df = SparkEntry.queries("ann_filtered")(spark, TestSpark.sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the label predicate must reach the corpus scan (row-group pruning at
    // scale), not run as a post-scan filter over deserialized vectors only
    assert(p.contains("PushedFilters") && p.contains("EqualTo(label,1)"), p)
    assert(!p.contains("Window"), p)
  }

  test("BM25 and binary-hamming retrieval cut to k via partial TopKBy, no window") {
    for (q <- Seq("bm25_topk", "ann_binary_hamming", "hybrid_rrf")) {
      val df = SparkEntry.queries(q)(spark, TestSpark.sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(!p.contains("Window"), s"$q:\n$p")
      assert(p.contains("partial_topkby"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("DSIR scoring joins the broadcast model, never sort-merges the corpus") {
    val df = SparkEntry.queries("dsir_importance")(spark, TestSpark.sf)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the 256-row model reaches the doc-bucket table via broadcast
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("resample grid sides broadcast; only the counts side is corpus-sized") {
    val df = SparkEntry.queries("events_resample_hourly")(spark, TestSpark.sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"), p)
  }

  test("serving read: no window after compact(), one over contested rows only") {
    import org.apache.spark.sql.functions._
    import graft.operators.IndexTable
    val path = java.nio.file.Files.createTempDirectory("plan_readlatest").toString + "/idx"
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .where(col("doc_id") < 50)
      .select(concat_ws("/", col("source"), col("doc_id")).as("document_path"), col("text"))
    IndexTable.append(IndexTable.ingestRecords(docs, "t", pageSize = 64), path)
    IndexTable.compact(spark, path, "t")
    // zero active deltas: the generation is pre-resolved — the read must be
    // the bare pruned scan, no upsert window, no exchange of any kind
    val clean = IndexTable.readLatest(spark, path, "t")
    clean.collect()
    val p = clean.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Window"), p)
    // deltas pending: five upserted docs and one new doc. Only ids in the
    // deltas are contested, so the one shuffle, the upsert window's, carries
    // the generation rows with those ids plus the delta rows
    val genIds = IndexTable.read(spark, path, "t").select(col("id")).collect().map(_.getString(0))
    val delta = IndexTable.ingestRecords(docs.where(col("document_path").endsWith("/1"))
      .unionByName(spark.range(1).select(lit("new/doc").as("document_path"),
        lit("okapi tapir narwhal").as("text"))), "t", pageSize = 64)
    val deltaIds = delta.select(col("id")).collect().map(_.getString(0))
    IndexTable.append(delta, path)
    val latest = IndexTable.readLatest(spark, path, "t")
    latest.collect()
    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        nodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q +: nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val p2 = latest.queryExecution.executedPlan
    assert(nodes(p2).count(_.nodeName == "Window") === 1, p2)
    val windowInput = nodes(p2).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.metrics("shuffleRecordsWritten").value
    }
    val contested = genIds.count(deltaIds.toSet)
    assert(contested > 0 && contested < genIds.length)
    assert(windowInput === Seq((contested + deltaIds.length).toLong), p2)
  }

  test("packing's only single-partition exchange carries the tiny bucket-totals table") {
    import org.apache.spark.sql.functions.col
    val toks = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokenCountWs(col("text")).cast("long").as("n_tok"))
    val df = graft.operators.Packing.packOffsets(toks, "doc_id", "n_tok", 512, 50)
    df.collect()
    // AQE's toString appends the pre-adaptive "Initial Plan" — count nodes in
    // the finalized section only
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // exactly one SinglePartition exchange (the per-bucket totals), and the
    // data-sized side hash-partitions on the bucket id
    assert("SinglePartition".r.findAllIn(p).size === 1, p)
    assert(p.contains("hashpartitioning(__b"), p)
    // bucket offsets come back via broadcast, not a second big shuffle
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"), p)
  }

  test("KS drift ECDF uses the two-level prefix scheme — no corpus-wide value window") {
    val df = SparkEntry.queries("dq_value_drift_ks")(spark, TestSpark.sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // every window keys on the grid cell first: per-cell cumulative sums
    // run in parallel, and the only ordered pass is the 64-row cell-totals
    // prefix; a windowspecdefinition leading with the raw value column
    // would be the single-partition ECDF regression
    val specs = "windowspecdefinition\\(\\w+#\\d+".r.findAllIn(p).toList
    assert(specs.nonEmpty, p)
    assert(specs.forall(_.contains("bk#")), s"$specs\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // cell offsets come back via broadcast, not a second data-sized shuffle
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"), p)
  }

  // the RangePrefix quartet: every global rank / running total must run the
  // two-level prefix scheme — windows keyed on the grid cell, offsets via
  // the triangular broadcast join, and NO unpartitioned corpus window
  // (windowspecdefinition leading with a raw value column = the
  // single-partition regression this pin exists to catch)
  for (q <- Seq("select_token_budget", "profile_pareto_abc",
                "pack_padding_waste", "orders_propensity_match",
                "quality_unigram_ppl", "stats_kruskal_wallis",
                "nb_conformal", "vocab_zipf_slope", "vocab_coverage_curve",
                "assign_dense_ids"))
    test(s"$q global prefix uses the two-level scheme — no corpus-wide window") {
      val df = SparkEntry.queries(q)(spark, TestSpark.sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      val specs = "windowspecdefinition\\(\\w+#\\d+".r.findAllIn(p).toList
      assert(specs.nonEmpty, p)
      assert(specs.forall(_.contains("bk#")), s"$specs\n$p")
      assert(!p.contains("CartesianProduct"), p)
      assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"), p)
    }

  test("SemDeDup pair join is cluster-keyed equi-join, never a cartesian over the corpus") {
    val df = SparkEntry.queries("dedup_semantic")(spark, TestSpark.sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the only cross joins allowed are the k-row broadcast centroid joins
    // inside KMeans.assign; the PAIR join must key on cluster
    assert(p.contains("cluster"), p)
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    val bcast = "BroadcastExchange".r.findAllIn(p).size
    // every nested-loop is a broadcast of the k-row centroid table
    assert(bnlj <= bcast, s"non-broadcast nested loop in\n$p")
  }

  test("CMS counter aggregate partial-aggregates map-side (the sketch IS the partial state)") {
    val df = SparkEntry.queries("vocab_cms_heavy")(spark, TestSpark.sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // token count, counter build, and estimate-min each show partial+final
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("rendezvous sharding is a pure narrow expression: zero exchanges") {
    val df = SparkEntry.queries("shard_assignment")(spark, TestSpark.sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the only exchange allowed is the final orderBy's range partitioning
    val exchanges = "Exchange".r.findAllIn(p).size
    val range = "rangepartitioning".r.findAllIn(p).size
    assert(exchanges === range, s"shard routing itself must not shuffle:\n$p")
  }

  test("curation composite: no cartesian; semi/anti gates, broadcast models") {
    // The registered query localCheckpoints the survivor stage (it feeds two
    // actions), which truncates its executed plan — assert the gate shape on
    // the pre-checkpoint survivor frame, and the no-cartesian/broadcast
    // discipline on both halves.
    val surv = SparkEntry.curationSurvivors(spark, TestSpark.sf)
    surv.collect()
    val sp = surv.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!sp.contains("CartesianProduct"), sp)
    assert(sp.contains("LeftSemi") && sp.contains("LeftAnti"), sp)
    val bnljS = "BroadcastNestedLoopJoin".r.findAllIn(sp).size
    val bcastS = "BroadcastExchange".r.findAllIn(sp).size
    assert(bnljS <= bcastS, s"non-broadcast nested loop in\n$sp")

    val df = SparkEntry.queries("pipeline_curation_v2")(spark, TestSpark.sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    val bcast = "BroadcastExchange".r.findAllIn(p).size
    assert(bnlj <= bcast, s"non-broadcast nested loop in\n$p")
  }

  test("pHash pair join keys on the hash bands (equi hash join, no BNLJ)") {
    val df = SparkEntry.queries("multimodal_phash_pairs")(spark, TestSpark.sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("band_key"), p)
  }

  test("winnow pair join keys on the fingerprint (equi hash join, no BNLJ)") {
    val df = SparkEntry.queries("dedup_winnow_pairs")(spark, TestSpark.sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("fp"), p)
  }

  test("unicode normalization expressions stay inside whole-stage codegen") {
    val df = SparkEntry.queries("text_normalize_unicode")(spark, TestSpark.sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("strip_accents"), p)
    assert(p.contains("nfc_normalize"), p)
    assert(p.contains("*("), p) // codegen stage marker — no codegen fence
  }

  test("runtime bloom filter reduces the fact side of a selective dim join") {
    // The 100 TB shuffle-reduction lever: with a selective dimension filter,
    // Catalyst injects a bloom_filter_agg on the dim side and a
    // might_contain pre-filter on the FACT side, so non-matching fact rows
    // die before the join exchange. Default size thresholds target
    // cluster-scale scans; the pin lowers them to exercise the mechanism at
    // fixture scale — production relies on the same rule at its defaults.
    import org.apache.spark.sql.functions.col
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = spark.read.parquet(s"${TestSpark.sf}/lineitem.parquet")
      val ord = spark.read.parquet(s"${TestSpark.sf}/orders.parquet")
        .where(col("o_totalprice") > 450000)
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"), p.take(1500))
      assert(p.contains("bloom_filter_agg"), p.take(1500))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
