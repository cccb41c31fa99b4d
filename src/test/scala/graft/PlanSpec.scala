package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape guards: the properties that keep these operators viable at
  * 100 TB — filter pushdown reaching the parquet scan, column pruning,
  * broadcast joins for dimensions, whole-stage codegen on hot paths.
  * A refactor that silently loses one of these should fail here, not in
  * production.
  */
class PlanSpec extends AnyFunSuite {
  import SparkTestSession._

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q6 selective agg: filters pushed to the parquet scan") {
    val p = planOf("q6_forecast_revenue")
    assert(p.contains("PushedFilters") &&
      p.contains("l_shipdate") && p.contains("GreaterThanOrEqual"),
      s"no pushed filters in:\n${p.take(2000)}")
  }

  test("q2 projection: scan reads only the needed columns") {
    val p = planOf("q2_filter_topn")
    // 5 projected + 2 filter columns; l_extendedprice must NOT be read
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_extendedprice"), "column pruning lost")
    assert(!p.contains("l_tax"), "column pruning lost")
  }

  test("q5 star join: dimension tables broadcast") {
    val p = planOf("q5_local_supplier_volume")
    assert(p.contains("BroadcastHashJoin"), "dims should broadcast")
  }

  test("q1 agg: whole-stage codegen covers the aggregate") {
    // AQE reports codegen spans only once the plan is finalized — run it
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // '*(n)' prefixes mark WholeStageCodegen spans in the compact form
    assert(p.contains("*(") , "codegen missing")
    assert(p.contains("*(2) HashAggregate") || p.contains("*(1) HashAggregate"),
      "hash agg should be inside a codegen span")
  }

  test("q8 outer join + agg stays shuffle-partitioned (no cartesian)") {
    val p = planOf("q8_customer_order_counts")
    assert(!p.contains("CartesianProduct"))
  }

  test("q24 as-of: union+window, intermediate never multiplies (no join)") {
    val p = planOf("q24_asof_join")
    assert(!p.contains("Join"),
      s"as-of must not join events x orders-per-user:\n${p.take(2000)}")
    assert(p.contains("Union") && p.contains("Window"))
  }

  test("q39 bucketed join: no shuffle feeds the join (co-located buckets)") {
    // at test SF the sides are broadcast-small; force the SMJ path the
    // query takes at scale, where bucket co-location is what matters
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val df = SparkEntry.queries("q39_bucketed_join")(spark, sf)
      df.collect() // finalize AQE
      val p = df.queryExecution.executedPlan.toString
      val joinAt = p.indexOf("SortMergeJoin")
      assert(joinAt >= 0, s"expected a sort-merge join:\n${p.take(2000)}")
      assert(p.contains("Bucketed: true"), "scan must be bucket-aware")
      // the only Exchange allowed is AFTER the join (groupBy/orderBy);
      // neither join input may re-shuffle bucketed data
      val pre = p.substring(joinAt)
      assert(!pre.contains("Exchange hashpartitioning(l_orderkey") &&
        !pre.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join inputs must not shuffle:\n${pre.take(2000)}")
    } finally spark.conf.set(key, prev)
  }

  test("q58 salted join: exchange partitions on (key, salt)") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1") // force the shuffle path salting targets
    try {
      val df = SparkEntry.queries("q58_salted_join")(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("hashpartitioning(l_orderkey") && p.contains("fsalt"),
        s"fact exchange must carry the salt:\n${p.take(2000)}")
    } finally spark.conf.set(key, prev)
  }

  test("AQE splits a skewed join partition (skew=true in the executed " +
      "join) — and leaves a uniform join alone") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum}
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.shuffle.partitions")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(keys(0), "-1") // force the shuffle join skew targets
      spark.conf.set(keys(1), "32768") // test-scale skew thresholds
      spark.conf.set(keys(2), "16384")
      spark.conf.set(keys(3), "2.0")
      // skew detection compares partitions to the MEDIAN: the session
      // default (2 for the tiny-fixture suite) leaves no distribution
      // to compare against — this test owns its shuffle sizing
      spark.conf.set(keys(4), "8")
      // 90% of the fact on ONE key: the canonical skew shape
      val fact = (1 to 200000)
        .map(i => (if (i % 10 == 0) i.toLong % 97 else 0L, i.toLong))
        .toDF("k", "v")
      val dim = (0L to 96L).map(k => (k, s"d$k")).toDF("k", "name")
      val skewed = fact.join(dim, "k").groupBy(col("name"))
        .agg(sum(col("v")).as("s"))
      skewed.collect() // finalize AQE
      val p = skewed.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE must split the hot partition:\n${p.take(2000)}")
      // control: a uniform join under identical conf must NOT be split
      val uniform = (1 to 200000).map(i => (i.toLong % 97, i.toLong))
        .toDF("k", "v")
      val plain = uniform.join(dim, "k").groupBy(col("name"))
        .agg(sum(col("v")).as("s"))
      plain.collect()
      assert(!plain.queryExecution.executedPlan.toString
        .contains("skew=true"), "a uniform join must not be skew-split")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q49 chunking: scan reads only doc_id and text") {
    val p = planOf("q49_doc_chunks")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("n_chars") && !p.contains("source"),
      "chunking must not read unused document columns")
  }

  test("q55 redaction: scan reads only doc_id and text") {
    val p = planOf("q55_pii_redact")
    assert(!p.contains("n_chars") && !p.contains("lang"),
      "redaction must not read unused document columns")
  }

  test("q44 dedup: single shuffle on the dedup key (window, not self-join)") {
    val p = planOf("q44_exact_dedup")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("q79 repetition filter: map-only — the sort is the only exchange") {
    // bigram stats must come from native array ops in the scan stage;
    // only the final presentation orderBy may shuffle
    val p = planOf("q79_repetition_filter")
    assert(!p.contains("HashAggregate") && !p.contains("Join"),
      s"repetition filter must not aggregate or join:\n${p.take(2000)}")
    assert(!p.contains("transform("), "bigrams must not use HOF lambdas")
  }

  test("q84 decontamination: benchmark side broadcasts, grams never shuffle") {
    val p = planOf("q84_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"bench set must broadcast:\n${p.take(2000)}")
  }

  test("q86 tokenizer: scan reads only doc_id and text") {
    val p = planOf("q86_bpe_tokens")
    assert(!p.contains("n_chars") && !p.contains("lang"),
      "tokenizer must not read unused document columns")
  }

  test("q90 funnel: per-user stage frames broadcast into the event joins") {
    val p = planOf("q90_funnel")
    assert(p.contains("BroadcastHashJoin"),
      s"stage frames (users << events) should broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q91 retention: the cohort frame broadcasts") {
    val p = planOf("q91_retention")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q92 filtered aggregates: ONE scan, one hash aggregate") {
    val p = planOf("q92_filtered_agg")
    // a FILTER-clause rewrite into per-predicate scans would show here
    assert(p.split("FileScan").length - 1 == 1,
      s"expected a single lineitem scan:\n${p.take(2000)}")
    assert(p.contains("HashAggregate"))
  }

  test("q94 semdedup: centroids broadcast; pair join keys on the cell") {
    val p = planOf("q94_semdedup")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), "centroid assignment should broadcast")
    assert(!p.contains("CartesianProduct"),
      "the pair join must key on cell, never cross the corpus")
  }

  test("q85 DV read: the vector applies as a position mask, never a join") {
    // the masks are loaded on the driver and broadcast as per-file
    // bitmaps: the scan's rows are filtered by position, so no join, no
    // broadcast exchange and no job reads the vector
    val df = SparkEntry.queries("q85_dv_delete")(spark, sf)
    df.collect() // AQE-finalized plan
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("BroadcastExchange") &&
      p.contains("row_index"),
      s"DV subtraction should be a position filter on the scan:\n${p.take(2000)}")
  }

  test("q100 forward fill: one window pass, no join, no extra exchange") {
    val p = planOf("q100_forward_fill")
    assert(p.contains("Window"), s"expected a window:\n${p.take(2000)}")
    assert(!p.contains("Join"), "LOCF must be a window, never a self-join")
  }

  test("q101 date spine: the daily-count join broadcasts (spine is tiny)") {
    val df = SparkEntry.queries("q101_date_spine")(spark, sf)
    df.collect() // AQE-finalized plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"post-agg frames are tiny — the join must broadcast:\n${p.take(2000)}")
  }

  test("q102 unpivot: an Expand over the aggregate, not a union of scans") {
    val p = planOf("q102_unpivot")
    assert(p.contains("Expand"), s"unpivot should plan as Expand:\n${p.take(2000)}")
    assert(!p.contains("Union"), "melt must not re-scan per metric")
  }

  test("q103 fuzzy pairs: the self-join keys on the block, never crosses it") {
    val p = planOf("q103_fuzzy_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"blocking key must drive an equi-join:\n${p.take(2000)}")
  }

  test("q104 histogram: one scan, one hash-aggregate pair") {
    val p = planOf("q104_histogram")
    assert(p.contains("HashAggregate") && !p.contains("Join"))
    assert(!p.contains("o_orderdate"), "histogram must not read unused columns")
  }

  test("q121 weighted sample: distributed TakeOrdered, no global sort") {
    val p = planOf("q121_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered, not sort-everything:\n${p.take(2000)}")
    // the full-corpus frame must not pass through a single-partition
    // Exchange before the limit (rangepartitioning = global sort)
    assert(!p.contains("Exchange rangepartitioning"),
      "weighted sample must not globally sort the corpus")
  }

  test("q123 attribution: one window pass, no purchase-by-click join") {
    val p = planOf("q123_last_touch_attribution")
    assert(p.contains("Window"), s"expected a window:\n${p.take(2000)}")
    assert(!p.contains("Join"),
      "last-touch must ride the merged stream, never a self-join")
  }

  test("q124 sliding distinct: explode replication, no range self-join") {
    val df = SparkEntry.queries("q124_sliding_distinct")(spark, sf)
    df.collect() // AQE-finalized plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Generate"),
      s"expected the explode-to-buckets shape:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "sliding distinct must not range-self-join events x hours")
  }

  test("q128 contamination spans: benchmark side broadcasts") {
    val df = SparkEntry.queries("q128_contamination_spans")(spark, sf)
    df.collect() // AQE-finalized plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the benchmark gram set is small — it must broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q131 profile: one scan feeds every column's metrics") {
    val p = planOf("q131_table_profile")
    // the oracle rescans per column (UNION ALL); the engine must not —
    // exactly one lineitem scan, melted by an Expand
    assert("FileScan".r.findAllIn(p).size == 1,
      s"profile rescans the table:\n${p.take(2000)}")
    assert(p.contains("Expand"), "stack() should plan as Expand")
  }

  test("q135 heavy hitters: the recount filters on the candidate IN-list") {
    val df = SparkEntry.queries("q135_heavy_hitters")(spark, sf)
    df.collect() // AQE-finalized plan
    val p = df.queryExecution.executedPlan.toString
    // MG candidates (≤64 keys) reach the scan as an INSET filter sitting
    // DIRECTLY over it (the key is computed, so it can't enter parquet
    // PushedFilters) — the recount never aggregates the full distribution
    val insetOverScan =
      "(?s)Filter [^\\n]*INSET[^\\n]*\\n[^\\n]*FileScan".r
    assert(insetOverScan.findFirstIn(p).isDefined,
      s"candidate IN-list must filter the recount scan:\n${p.take(2000)}")
  }

  test("q141 novelty: shingle join keys on hashes, no cartesian") {
    val df = SparkEntry.queries("q141_ngram_novelty")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("q126 renamed-column scan still prunes and pushes down") {
    // the mapping must not break pushdown: the physical scan reads the
    // PHYSICAL column and the filter still reaches it
    val table = queries.Maintenance.renameFixture(spark, sf)
    val df = graft.txn.SnapshotReader.read(spark, table)
      .filter(org.apache.spark.sql.functions.col("qty") > 30)
      .select("l_orderkey", "qty")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("l_quantity"),
      s"filter on the logical name must push down as the physical:\n${p.take(2000)}")
    assert(!p.contains("l_returnflag"), "column pruning lost through mapping")
  }

  test("q148 anomalies: group stats broadcast back, no window shuffle") {
    val df = SparkEntry.queries("q148_zscore_anomalies")(spark, sf)
    df.collect() // AQE-finalized plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the 5-row stats frame must broadcast:\n${p.take(2000)}")
    assert(!p.contains("Window"),
      "screening must not shuffle the fact table through a window")
  }

  test("q187 scaled funnel: hot-list broadcast anti-join caps the pair join") {
    val df = SparkEntry.queries("q187_pipeline_scaled")(spark, sf)
    df.collect() // AQE-finalized plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"stage 4's df cap must be a broadcast ANTI-join on the hot " +
        s"(df>cap) list — broadcasting the keep list would not scale:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("q149 similar docs: df-cap keep-list broadcasts; no cartesian") {
    val df = SparkEntry.queries("q149_similar_docs")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the df-capped shingle set must broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("q150 triangles: wedge stream rides broadcast probes, no shuffle join") {
    val df = SparkEntry.queries("q150_triangle_count")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"both wedge probes must be broadcast hash joins:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"),
      "the 10^8-row wedge stream must never reach a sort-merge join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q151 entity resolution: pair join keys on the block") {
    val p = planOf("q151_entity_resolution")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"blocking key must drive an equi-join:\n${p.take(2000)}")
  }

  test("q153 mode: two-level agg, window on the post-agg frame only") {
    val p = planOf("q153_mode_per_group")
    assert(p.contains("HashAggregate") && p.contains("Window"))
    // the window input is the (flag, qty) aggregate — a frame bounded by
    // distinct values, not table rows; no join anywhere
    assert(!p.contains("Join"))
  }

  test("q154 OLS: one scan, one aggregate, no window, no join") {
    val p = planOf("q154_ols_trend")
    assert("FileScan".r.findAllIn(p).size == 1,
      s"sufficient statistics need exactly one scan:\n${p.take(2000)}")
    assert(!p.contains("Window") && !p.contains("Join"))
  }

  test("q176 skyline: two-frame windows, no pair join of any kind") {
    val p = planOf("q176_skyline")
    assert(p.contains("Window"))
    assert(!p.contains("Join") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the skyline must come from running-max windows, not an O(n²) join")
  }

  test("q182 FK audit: every anti-join is a broadcast, fact never shuffles") {
    val p = planOf("q182_fk_audit")
    assert("BroadcastHashJoin.*LeftAnti".r.findAllIn(p).size == 4,
      s"four broadcast anti-joins expected:\n${p.take(3000)}")
  }

  test("q184 MAD: medians broadcast back to the fact side") {
    val p = planOf("q184_mad_anomalies")
    assert(p.contains("BroadcastHashJoin"),
      "the 5-row median/MAD frames must broadcast, not shuffle the facts")
  }

  test("q178 RRF: capped postings join on the feature, no cartesian") {
    val p = planOf("q178_hybrid_rrf")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    // the df-cap keep-lists ride broadcasts into both inverted indexes
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q185 paths: one user-keyed window, top-k via TakeOrdered") {
    val p = planOf("q185_path_topk")
    assert(p.contains("TakeOrderedAndProject"),
      "global top-10 must be TakeOrdered, not a full sort")
  }

  test("q110 pareto: no single-task window — cumulative sum is distributed") {
    // the old plan ran SUM OVER (ORDER BY ...) with no PARTITION BY: a
    // SinglePartition exchange + ONE task holding the whole per-part
    // frame. DistributedOrder replaced it; no Window may reappear.
    // (the 1-row FINAL aggregates below still legitimately gather their
    // per-partition partials — that exchange moves partition counts, not
    // frame rows, so only Window is banned here)
    val p = planOf("q110_pareto_class")
    assert(!p.contains("Window"),
      s"q110 must not use an unpartitioned window:\n${p.take(2000)}")
  }

  test("q164 gini: no single-task window — global rank is distributed") {
    val p = planOf("q164_gini")
    assert(!p.contains("Window"),
      s"q164 must not use an unpartitioned ROW_NUMBER window:\n${p.take(2000)}")
  }

  test("q307 capped containment: hot-list broadcast anti-join bounds the " +
      "pair join (q187's pattern)") {
    val df = SparkEntry.queries("q307_containment_scaled")(spark, sf)
    df.collect() // AQE-finalized plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"the df>cap hot list must broadcast-anti-join the index:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("q314 source cap: every window is PARTITIONED and Spark's " +
      "WindowGroupLimit pushes the rank cap below the shuffle") {
    val df = SparkEntry.queries("q314_source_cap")(spark, sf)
    df.collect() // AQE-finalized plan
    val p = df.queryExecution.executedPlan.toString
    // both phases' windows carry a PARTITION BY (never a global frame),
    // and Spark 4 plans Partial+Final WindowGroupLimit — the top-N is
    // capped map-side BEFORE the exchange, on top of the salt design
    assert(!p.contains("windowspecdefinition(") ||
      !p.replaceAll("windowspecdefinition\\((source|salt)[^)]*\\)", "")
        .contains("windowspecdefinition("),
      s"q314 must never plan an unpartitioned window:\n${p.take(2000)}")
    assert(p.contains("WindowGroupLimit"),
      s"expected the rank cap pushed below the shuffle:\n${p.take(2000)}")
  }

  test("q319 pareto frontier: the tiny frontier broadcasts onto the " +
      "points — no pair join, no window") {
    val df = SparkEntry.queries("q319_pareto_frontier")(spark, sf)
    df.collect() // AQE-finalized plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the frontier join must broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop") && !p.contains("Window"),
      s"no dominance pair join, no window:\n${p.take(2000)}")
  }

  test("q173 DSv2 scan: pushdown reaches the custom source") {
    val df = SparkEntry.queries("q173_dsv2_scan")(spark, sf)
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2ScanRelation => r.scan
    }
    assert(scans.nonEmpty, "q173 must read through the DSv2 source")
    assert(scans.head.description().contains("GraftBatch"),
      s"unexpected scan: ${scans.head.description()}")
  }
}
