package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audit: the scale-design invariants from SURVEY §5,
  * asserted against the actual executed plans so a regression that
  * silently introduces a sort-merge join or a full-column scan fails
  * the build.
  */
class PlanAuditSpec extends AnyFunSuite {
  import SparkTestSession._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("lookups broadcast: no sort-merge join in lookup enrichment") {
    val p = plan("q_lookup_enrich")
    assert(p.contains("BroadcastHashJoin"), "lookup should be a broadcast join")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join in lookup plan")
  }

  test("etl pipeline lookup broadcasts") {
    val p = plan("q_etl_pipeline")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("column pruning: lookup enrichment reads only needed lineitem columns") {
    val p = plan("q_lookup_enrich")
    assert(!p.contains("l_shipdate"), "unused columns must be pruned from the scan")
    assert(!p.contains("l_quantity"))
  }

  test("thinout pushes the retention cutoff to the parquet scan") {
    val p = plan("q_thinout")
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"),
      s"cutoff not pushed down:\n$p")
  }

  test("rollups partial-aggregate before the shuffle") {
    val p = plan("q_rollup_5m")
    // two HashAggregates (partial + final) around one shuffle
    assert("HashAggregate".r.findAllIn(p).length >= 2)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1)
  }

  test("delete+reload anti-join broadcasts the bucket set") {
    val p = plan("q_delete_reload")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"))
  }

  test("referential check broadcasts the dimension") {
    val p = plan("q_recon_referential")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"))
  }

  test("ann top-k finishes through the bounded-heap aggregate, not a window") {
    val p = plan("q_ann_topk")
    assert(p.contains("top_k"), "expected the TopKByScore aggregate in the plan")
    assert(!p.contains("Window"), s"window sort crept into the top-k plan:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      "exactly one data shuffle: the per-query top-k aggregation")
  }

  test("stratified sampling is a heap aggregate, one shuffle, no window sort") {
    val p = plan("q_sample_stratified")
    assert(p.contains("top_k"), "expected the TopKByScore aggregate in the plan")
    assert(!p.contains("Window"), s"window sort crept into the sampling plan:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      "exactly one data shuffle: the per-stratum heap aggregation")
  }

  test("ivf ann: zero shuffle between corpus scan and probe join") {
    val p = plan("q_ann_ivf")
    assert(p.contains("top_k") && !p.contains("Window"))
    assert(p.contains("BroadcastHashJoin"), "probes must broadcast")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"cell assignment must not shuffle the corpus:\n$p")
  }

  test("ngram dedup scans the corpus exactly once") {
    val p = plan("q_dedup_ngram")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"size-lookup joins must not rescan documents:\n$p")
  }

  test("embedding near-dup has no unbounded join") {
    val p = plan("q_dedup_embed")
    assert(!p.contains("CartesianProduct"), "no cross join in the LSH plan")
    assert(!p.contains("SortMergeJoin"), "embedding fetch should broadcast at this SF")
  }

  test("missing-keys reconciliation is a single full-outer join") {
    val p = plan("q_recon_missing")
    assert(p.contains("FullOuter"), "both directions must come from one join")
    assert(!p.contains("Union"), "the two-anti-join shape scans each side twice")
  }

  test("quality rollup scans the corpus once") {
    val p = plan("q_quality_by_source")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"grouping columns must ride the metric projection, not a join-back:\n$p")
  }

  test("multimodal feature extraction stays in codegen (no RDD hop)") {
    val p = plan("q_multimodal")
    assert(p.contains("byte_stats"), "native expression missing from plan")
    assert(!p.contains("ExistingRDD") && !p.contains("Scan ExistingRDD"),
      s"RDD hop in multimodal plan:\n$p")
  }

  test("repetition metrics are a pure projection: zero exchanges") {
    val p = plan("q_quality_repetition")
    assert(!p.contains("Exchange"), s"per-row metrics must not shuffle:\n$p")
  }

  test("vocab top-k is partial-agg + bounded heaps, never a full sort") {
    val p = plan("q_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected per-partition heap top-k:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      "one shuffle: the word-count aggregation")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "map-side combine must shrink the explode before the shuffle")
  }

  test("decontamination broadcasts the benchmark gram set") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"benchmark side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus grams must not shuffle for the join:\n$p")
  }

  test("json profiling evaluates extraction inside the scan stage") {
    val p = plan("q_json_extract")
    assert(p.contains("get_json_object"), "extraction must be in the plan")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1 &&
      "HashAggregate".r.findAllIn(p).length >= 2,
      s"one partial-agg shuffle of grouped rows only:\n$p")
  }

  test("percentile filter broadcasts the one-row threshold") {
    val p = plan("q_quality_filter")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"threshold must broadcast back over the scan:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("raw line slicing never exchanges the feed body") {
    val dir = java.nio.file.Files.createTempDirectory("sliceaudit")
    java.nio.file.Files.writeString(dir.resolve("a.csv"),
      (1 to 50).map(i => s"$i|x").mkString("\n"))
    def sliced() = graft.etl.ChillPipeline.rawCsv(spark, dir.toString + "/*.csv", "|",
      Seq("id", "v"), skipHeader = 2, skipFooter = 1, ignoreLines = Set())
    // a file read whole by one task is sliced in the scan's own tasks
    val whole = sliced()
    val p = whole.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"a whole-file slice must neither exchange nor join:\n$p")
    assert(whole.count() == 47)
    // a split file: per-split offsets broadcast back onto the scan
    withSplitSize(64) {
      val split = sliced()
      val p = split.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning(_file"),
        s"feed body must not shuffle on _file:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"per-split offsets must broadcast back onto the scan:\n$p")
      assert(split.count() == 47)
    }
  }

  test("many-file raw parse with tag + filename rules: body never " +
    "exchanges on _file; only the tag-filtered capture does") {
    val dir = java.nio.file.Files.createTempDirectory("sliceaudit2")
    (0 until 20).foreach { f =>
      java.nio.file.Files.writeString(dir.resolve(s"NODE${f}_20240101.csv"),
        (Seq("HDR|x|0", s"#REGION=R${f * 10}") ++
          (1 to 30).map(i => s"$i|t$i|${i * 7}") :+ "EOF|x|0").mkString("\n"))
    }
    val tagRule = graft.etl.FromTag("region", "#REGION",
      c => org.apache.spark.sql.functions.regexp_extract(c, "#REGION=(R\\d+)", 1))
    def parsed() = {
      val raw = graft.etl.ChillPipeline.rawCsv(spark, dir.toString + "/*.csv", "|",
        Seq("id", "t", "cents"), skipHeader = 2, skipFooter = 1, ignoreLines = Set())
      graft.etl.FieldRule.applyAll(
        graft.etl.ChillPipeline.withTagColumns(spark, dir.toString + "/*.csv", raw,
          Seq(tagRule)),
        Seq(graft.etl.FromFilename("node_id", "NODE(\\d+)_", 1), tagRule))
    }
    // semantic check: every row carries its file's node id + region
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val rows = df.groupBy("node_id", "region")
        .count().collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      assert(rows.length == 20 && rows.forall { case (n, reg, c) =>
        reg == s"R${n.toInt * 10}" && c == 30 })
    }
    // files read whole by one task: slice and tags in the scan's own tasks
    val whole = parsed()
    val p = whole.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"a whole-file parse must neither exchange nor join:\n$p")
    check(whole)
    // split files: the body still never exchanges on _file
    withSplitSize(64) {
      val split = parsed()
      val p = split.queryExecution.executedPlan.toString
      val fileExchanges = "Exchange hashpartitioning\\(_file".r.findAllIn(p).length
      assert(fileExchanges <= 1,
        s"feed body must not shuffle on _file (1 tag-capture exchange allowed):\n$p")
      assert(p.contains("Contains(value"),
        s"the _file exchange must sit above the tag FILTER, not the body:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"per-split offsets and per-file tags must broadcast:\n$p")
      check(split)
    }
  }

  test("bm25 is join-free: literal stats, bounded top-k, no exchange of doc rows") {
    val p = plan("q_bm25_search")
    assert(!p.contains("Join"), s"bm25 must not join — stats are literals:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must finish as bounded heaps, not a global sort:\n$p")
  }

  test("heavy hitters partial-aggregates: capacity counters per group cross one exchange") {
    val p = plan("q_heavy_hitters")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final ObjectHashAggregate:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("embedding centroids partial-aggregate the exploded rows map-side") {
    val p = plan("q_embed_centroids")
    assert("HashAggregate".r.findAllIn(p).length >= 2)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("scd2 runs windows, run-collapse, and lead on a single exchange") {
    val p = plan("q_scd2")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"scd2 should reuse one user_id exchange end-to-end:\n$p")
  }

  test("zorder key is a pure projection — no exchange, no join") {
    val p = plan("q_zorder_key")
    assert(!p.contains("Exchange") && !p.contains("Join"), p)
  }

  test("bloom semi-join probes in the scan stage before the exact join") {
    val p = plan("q_bloom_semijoin")
    assert(p.contains("might_contain"), s"bloom probe missing from the plan:\n$p")
    assert(p.contains("LeftSemi"), p)
  }

  test("funnel chains every stage onto one user_id exchange") {
    val p = plan("q_funnel")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1,
      s"funnel stages must share the user_id exchange:\n$p")
    assert(!p.contains("Join"), s"funnel must not self-join per step:\n$p")
  }

  test("curate runs the whole flow on one dedup exchange, filters before it") {
    val p = plan("q_curate")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"curate should shuffle once (the dedup window):\n$p")
    assert(!p.contains("Join"), s"curation must not join back to the corpus:\n$p")
  }

  test("revenue rollup: fact-fact shuffle join, nation broadcast, partial agg") {
    val p = plan("q_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("contribution broadcasts the day totals back over the daily table") {
    val p = plan("q_contribution")
    assert(p.contains("BroadcastHashJoin"), s"totals must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the daily table must not re-shuffle for the totals join:\n$p")
  }

  test("source overlap scans the corpus once and never joins") {
    val p = plan("q_source_overlap")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"the gram self-join alternative scans documents twice:\n$p")
    assert(!p.contains("Join"), s"pair expansion must be in-map, not a join:\n$p")
  }

  test("quantized ANN keeps the brute-force plan shape: broadcast probes, heap finish") {
    val p = plan("q_ann_quantized")
    assert(p.contains("int_vec_dot"), "scoring must use the codegen integer kernel")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"only the per-query top-k heap may shuffle (k rows per query):\n$p")
    assert(!p.contains("Window"), s"top-k must finish in the bounded heap, not a sort:\n$p")
    assert(!p.contains("SortMergeJoin"), s"queries must broadcast:\n$p")
  }

  test("fluency probes the frequent-bigram head as a broadcast, never a shuffle join") {
    val p = plan("q_fluency")
    assert(p.contains("BroadcastHashJoin"), s"hot set must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"document bigrams must never shuffle into a join:\n$p")
  }

  test("passage dedup broadcasts the hot-passage verdict and regroups once") {
    val p = plan("q_passage_dedup")
    assert(p.contains("BroadcastHashJoin"), s"hot passages must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"chunks must not shuffle into a join:\n$p")
    assert(!p.contains("Window"), s"reassembly must be in-map, not a window sort:\n$p")
  }

  test("session windows aggregate on one user exchange") {
    val p = plan("q_session_window")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"session merge should reuse the single user_id exchange:\n$p")
  }

  test("point-in-time lookup runs as the as-of window, never a nested loop") {
    val p = plan("q_point_in_time")
    assert(!p.contains("NestedLoop"),
      s"interval containment must not plan as an inequality join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"the as-of composition joins nothing — union + window only:\n$p")
  }

  test("table profile scans once for all columns") {
    val p = plan("q_table_profile")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"profiling N columns must not scan N times:\n$p")
  }

  test("canonical dedup is projection + one aggregate, no join or window") {
    val p = plan("q_dedup_canonical")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"canonical dedup must stay a grouped projection:\n$p")
  }

  test("densify grid broadcasts; the feed is scanned exactly once") {
    val p = plan("q_densify")
    // all three consumers (span, types, fill) read the materialized
    // daily table — zero raw re-scans in the final plan; the one feed
    // scan happened in the checkpoint job
    assert(!p.contains("Scan parquet") && p.contains("ExistingRDD"),
      s"span/types/fill must consume the checkpointed daily table:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"span and grid sides are one-row/dimension-sized — broadcast:\n$p")
  }

  test("rolling range window consumes the aggregated daily table") {
    val p = plan("q_rolling_range")
    assert(p.contains("partial_count"),
      s"the feed must partial-aggregate before the window:\n$p")
    assert(!p.contains("Join"), s"a RANGE frame needs no grid join:\n$p")
  }

  test("histogram quantile cascade aggregates before its window") {
    val p = plan("q_hist_quantile")
    assert(p.contains("partial_count"),
      s"fine histograms partial-aggregate map-side:\n$p")
    assert(!p.contains("Join"),
      s"rank landing is a window + filter, never a totals join:\n$p")
  }

  test("prefix-filter join never plans a cartesian or nested-loop product") {
    val p = plan("q_dedup_prefix")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"candidates must come from prefix postings, not a cross join:\n$p")
  }

  test("pagerank's final ranks are a checkpointed leaf, not a nested 3-round plan") {
    val p = plan("q_pagerank")
    assert(p.contains("Scan ExistingRDD"),
      s"per-round localCheckpoint should reset ranks to a leaf:\n$p")
    assert(!p.contains("Join"),
      s"round plans must not accumulate across iterations:\n$p")
  }

  test("knn graph: only k rows per vector reach the shuffle (heap finish)") {
    // mutualFlags checkpoints the edge table (scored once, both join
    // branches reuse it), so the scorer is audited at its own stage
    val emb = Tables.embeddings(spark, sf)
    val p = ann.Ann.bruteForceTopK(emb, emb, 5)
      .queryExecution.executedPlan.toString
    assert(p.contains("top_k") || p.contains("TopK"),
      s"per-query top-k must be the bounded-heap aggregate:\n$p")
    assert(!p.contains("Window"),
      s"no global window sort over the n^2 scored set:\n$p")
    // and the assembled graph never window-sorts either
    val g = plan("q_knn_graph")
    assert(!g.contains("Window"), s"no window in the mutuality join:\n$g")
  }

  test("centroid outliers: broadcast centroids, heap bottom-k, no window") {
    val p = plan("q_centroid_outliers")
    assert(p.contains("BroadcastHashJoin"),
      s"group centroids must broadcast back over the corpus scan:\n$p")
    assert(p.contains("top_k") || p.contains("TopK"),
      s"bottom-k must finish through the bounded heap:\n$p")
    assert(!p.contains("Window"), s"no corpus-wide window sort:\n$p")
  }

  test("keywords: df table broadcasts; the rank window is per-document") {
    val p = plan("q_keywords")
    assert(p.contains("BroadcastHashJoin"),
      s"vocabulary-sized df table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no shuffle join anywhere in the keyword plan:\n$p")
  }

  test("trend slope: moments aggregate a checkpointed daily table, span broadcasts") {
    val p = plan("q_trend_slope")
    assert(!p.contains("Scan parquet") && p.contains("ExistingRDD"),
      s"daily table must be materialized once, not re-scanned per consumer:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the one-row first-day span must broadcast:\n$p")
  }

  test("changepoint windows consume the aggregated daily table") {
    val p = plan("q_changepoint")
    assert(p.contains("partial_count"),
      s"the feed partial-aggregates before any window:\n$p")
    assert(!p.contains("Join"), s"the statistic is window-only, no totals join:\n$p")
  }

  test("twap's lead window runs on the scan, aggregation partial-combines") {
    val p = plan("q_twap")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-(type, day) sums must map-side combine after the window:\n$p")
    assert(!p.contains("Join"), s"holding periods need no join:\n$p")
  }

  test("concurrency carry broadcasts; the sweep input is checkpointed") {
    val p = plan("q_concurrency")
    assert(p.contains("ExistingRDD"),
      s"the boundary points must materialize once for sweep + carry:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"the dimension-sized carry joins back as a broadcast:\n$p")
  }

  test("percent rank sorts within source partitions only") {
    val p = plan("q_percent_rank")
    assert(!p.contains("Exchange SinglePartition") &&
      p.contains("hashpartitioning(source"),
      s"the rank window must partition by source, never globally:\n$p")
  }

  test("daily trend windows consume the aggregated table, not the raw feed") {
    val p = plan("q_daily_trend")
    // partial+final agg collapses the feed to types×days BEFORE any
    // window; the trailing-frame/lag windows then sort only that
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"daily counts must partial-aggregate map-side:\n$p")
    val aggPos = p.indexOf("HashAggregate")
    val winPos = p.indexOf("Window")
    assert(winPos >= 0 && aggPos > winPos,
      s"windows must sit above the aggregate in the plan tree:\n$p")
  }

  test("basket lift: in-map pair expansion, dimension totals broadcast, " +
    "no items-by-items shuffle join") {
    val p = plan("q_basket_lift")
    assert(p.contains("pair_combos"),
      s"pairs must expand in-map via the PairCombos kernel:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"item totals must broadcast, not shuffle-join:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"both item-count joins must broadcast:\n$p")
  }

  test("auc: rank and peer-count share one exchange and one sort") {
    val p = plan("q_auc")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"both windows and the final agg must share the group exchange:\n$p")
    assert("\\bSort\\b".r.findAllIn(p).length <= 1,
      s"rank and peers must share one sort:\n$p")
  }

  test("embed covariance: moments aggregate map-side, no pre-agg explode") {
    val p = plan("q_embed_cov")
    assert("vec_moments".r.findAllIn(p).nonEmpty,
      s"expected the VecMoments kernel:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"moments must partial-aggregate map-side:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"a global moments agg needs only the single-partition exchange:\n$p")
    // the d(d+1)/2 expansion must sit ABOVE the aggregate (one row in)
    val genPos = p.indexOf("Generate")
    val aggPos = p.indexOf("ObjectHashAggregate")
    assert(genPos >= 0 && aggPos > genPos,
      s"pair expansion must happen after aggregation:\n$p")
  }

  test("event paths: bounded top-N finish, no cartesian anywhere") {
    val p = plan("q_event_paths")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N must be a bounded TakeOrdered, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"trigrams must come from windows, not self-joins:\n$p")
  }

  test("time to convert: anchor window and follow-up agg share the " +
    "user exchange") {
    val p = plan("q_time_to_convert")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"one user_id exchange end-to-end:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"never an events-by-events join:\n$p")
  }

  test("rfm: the feed collapses before any window sort") {
    val p = plan("q_rfm")
    assert(!p.contains("SortMergeJoin"))
    // one customer-collapse exchange; the ntile windows run on the
    // aggregate (single-partition exchanges, not hash ones)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"windows must consume the customer aggregate:\n$p")
    val aggPos = p.indexOf("HashAggregate")
    val winPos = p.indexOf("Window")
    assert(winPos >= 0 && aggPos > winPos,
      s"windows must sit above the aggregate in the plan tree:\n$p")
  }

  test("seasonal naive: the forecast join broadcasts the daily table") {
    val p = plan("q_forecast_baseline")
    assert(p.contains("BroadcastHashJoin"), s"forecast side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"))
  }

  test("growth accounting: user classification and weekly rollup share work; " +
    "no second feed scan for churn") {
    val p = plan("q_growth_accounting")
    // distinct + lag + weekly rollup + churn lag: the feed is read once
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"churn must ride the aggregate, not rescan the feed:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Join"),
      s"no join anywhere in growth accounting:\n$p")
  }

  test("quantile norm: pooled rank join stays broadcast; one source sort") {
    val p = plan("q_quantile_norm")
    assert(!p.contains("SortMergeJoin"), s"rank mapping must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("edit-distance dedup: band replication is an equi-join, never a " +
    "nested-loop band join") {
    val p = plan("q_dedup_edit")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"band blocking must stay an equi-join:\n$p")
    assert(p.contains("levenshtein"), "bounded verify must be in-plan")
    // the whole verify (bag bounds + banded DP) runs inside the ONE
    // blocking join's stage — a second shuffle join means a candidate
    // row crossed the wire (the sf100 decade-probe wall)
    assert("SortMergeJoin".r.findAllIn(p).length <= 1,
      s"verify must run inside the single blocking join, no fetch joins:\n$p")
  }

  test("seeded pagerank: final ranks are a checkpointed leaf like pagerank's") {
    val p = plan("q_pagerank_seeded")
    assert(p.contains("Scan ExistingRDD"), "ranks must come from a checkpoint leaf")
    assert(!p.contains("SortMergeJoin"))
  }

  test("vocab growth: gram first-doc min-agg partial-combines; " +
    "running sum consumes the bucket histogram") {
    val p = plan("q_vocab_growth")
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      s"min-agg and histogram must both partial-aggregate:\n$p")
    val winPos = p.indexOf("Window")
    val scanPos = p.indexOf("Scan parquet")
    assert(winPos >= 0 && scanPos > winPos,
      s"the cumulative window must sit above the aggregates:\n$p")
  }

  test("bucket checksum: pure projection + one partial-combined aggregate") {
    val p = plan("q_table_checksum")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1)
    assert("HashAggregate".r.findAllIn(p).length == 2,
      s"checksum must partial-aggregate map-side:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"))
  }

  test("burst detect: the range window and the per-user max share one exchange") {
    val p = plan("q_burst_users")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"window and max must share the user_id exchange:\n$p")
    assert(!p.contains("Join"))
  }

  test("dup matrix: source lookup broadcasts onto the pair table twice") {
    val p = plan("q_dup_matrix")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"both source lookups must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("ship lag: both fact sides prune to the join key + 2 columns") {
    val p = plan("q_ship_lag")
    assert(!p.contains("l_quantity") && !p.contains("o_totalprice"),
      s"unused fact columns must prune before the join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("session stats: day rollup rides the sessionize exchange output") {
    val p = plan("q_session_stats")
    assert(!p.contains("Join"), s"session stats must not join:\n$p")
    // sessionize's user exchange + the day rollup exchange only
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2,
      s"exactly two exchanges (user gap-scan, day rollup):\n$p")
  }

  test("compaction plan: one partial-combined aggregate, no join or window") {
    val p = plan("q_compaction_plan")
    assert("HashAggregate".r.findAllIn(p).length == 2,
      s"width sum must partial-aggregate map-side:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"))
  }

  test("decile transition: the feed collapses to users before any window sort") {
    val p = plan("q_decile_transition")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"user collapse + matrix rollup only:\n$p")
    // tree prints top-down: matrix rollup above the windows, the
    // user-collapse aggregate below them (windows consume it)
    val winPos = p.indexOf("Window")
    assert(winPos >= 0 && p.indexOf("HashAggregate", winPos) > winPos,
      s"ntile windows must consume the user aggregate:\n$p")
  }

  test("threshold sweep: one candidate pass, bounded ladder explode") {
    val p = plan("q_dedup_sweep")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"the ladder must reuse ONE candidate pass, not re-scan per threshold:\n$p")
  }

  test("windowed funnel keeps the one-exchange funnel shape") {
    val p = plan("q_funnel_windowed")
    assert(!p.contains("Join"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2,
      s"stage windows + user fold on one user exchange, one stage rollup:\n$p")
  }

  test("theil-sen: pairwise slopes join the broadcast daily table") {
    val p = plan("q_theil_sen")
    assert(p.contains("BroadcastHashJoin"), s"daily self-join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("gini: rank window and rollup consume the user aggregate") {
    val p = plan("q_gini")
    assert(!p.contains("Join"))
    val winPos = p.indexOf("Window")
    assert(winPos >= 0 && p.indexOf("HashAggregate", winPos) > winPos,
      s"the rank window must sit above the per-user aggregate:\n$p")
  }

  test("lang confusion: one scorer scan, no join") {
    val p = plan("q_lang_confusion")
    assert("Scan parquet".r.findAllIn(p).length == 1)
    assert(!p.contains("Join"))
  }

  test("partition skew: one feed exchange; the total is window-side") {
    val p = plan("q_partition_skew")
    assert(!p.contains("Join"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"bucket rollup only — no count() second scan:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1)
  }

  test("delta encode: lag window and byte rollup on one user exchange") {
    val p = plan("q_delta_encode")
    assert(!p.contains("Join"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"one user_id exchange end-to-end:\n$p")
  }

  test("quantile bands: grouped percentiles, no window, no join") {
    val p = plan("q_quantile_bands")
    assert(!p.contains("Join") && !p.contains("Window"))
  }

  test("new vs returning: exactly the two unavoidable exchanges") {
    val p = plan("q_new_vs_returning")
    assert(!p.contains("Join"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2,
      s"user tag + day rollup only:\n$p")
  }

  test("embedding norm stats: one label exchange, norms in the scan stage") {
    val p = plan("q_emb_norm_stats")
    assert(!p.contains("Join"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1)
  }

  test("winnowing: one scan, fingerprints selected in-row, capped postings") {
    val p = plan("q_dedup_winnow")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"winnowing must fingerprint in one pass:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("hits: final scores are checkpointed leaves, no nested round plan") {
    val p = plan("q_hits")
    assert(p.contains("Scan ExistingRDD"),
      "scores must come from checkpoint leaves")
    assert(!p.contains("CartesianProduct"))
  }

  test("winsorized mean: band broadcasts back, no shuffle join") {
    val p = plan("q_winsorized")
    assert(p.contains("BroadcastHashJoin"), "the p05/p95 band must broadcast")
    assert(!p.contains("SortMergeJoin"), s"band join must not shuffle:\n$p")
  }

  test("fixed-width parse: one orders scan, aggregation is the only shuffle") {
    val p = plan("q_fixed_width")
    assert("Scan parquet".r.findAllIn(p).length == 1)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"positional parsing must stay in the scan stage:\n$p")
  }

  test("readability + encoding qa: pure scan projections into partial aggs") {
    for (q <- Seq("q_readability", "q_encoding_qa")) {
      val p = plan(q)
      assert("Scan parquet".r.findAllIn(p).length == 1, s"$q re-scans")
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"$q must partial-aggregate map-side")
      assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
        s"$q needs exactly the rollup shuffle:\n$p")
    }
  }

  test("markov stationary: rounds are checkpointed leaves") {
    val p = plan("q_markov_stationary")
    assert(p.contains("Scan ExistingRDD"),
      "per-round mass must come from checkpoint leaves")
    assert(!p.contains("CartesianProduct"))
  }

  test("dow anomalies: baselines broadcast onto the daily table") {
    val p = plan("q_dow_anomalies")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), s"baseline joins must broadcast:\n$p")
  }

  test("vocab jaccard sketch: bottom-k through the heap, pairs broadcast") {
    val p = plan("q_vocab_jaccard")
    assert(p.contains("top_k"), "bottom-k must ride the bounded heap")
    assert(!p.contains("Window"), s"no window sort in the sketch plan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "the |sources|-row sketch pair join must broadcast")
  }

  test("pq adc search: codes + LUT only, heap finish, no window") {
    val p = plan("q_ann_pq")
    assert(p.contains("top_k") && !p.contains("Window"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"only the per-query heap may shuffle:\n$p")
  }

  test("profile diff: one scan per side, report join broadcasts") {
    val p = plan("q_profile_diff")
    assert("Scan parquet".r.findAllIn(p).length == 2,
      s"exactly one profile scan per snapshot:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))
  }

  test("trending: per-day heap, no window over the user dimension") {
    val p = plan("q_trending")
    assert(p.contains("top_k"), "daily top-k must ride the bounded heap")
    assert(!p.contains("Window"), s"window sort crept into trending:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "the days x k board self-join must broadcast")
  }

  test("quoted csv: from_csv parses in the scan stage, one rollup shuffle") {
    val p = plan("q_csv_quoted")
    assert("Scan parquet".r.findAllIn(p).length == 1)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"quoted parsing must not shuffle the body:\n$p")
  }

  test("tf cosine: checkpointed tf table, no cartesian, capped postings") {
    val p = plan("q_tf_cosine")
    assert(p.contains("Scan ExistingRDD"),
      "tf table must be a checkpoint leaf (norms + postings share it)")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("counter deltas: one entity window, then a map-side daily rollup") {
    val p = plan("q_counter_deltas")
    assert("Scan parquet".r.findAllIn(p).length == 1)
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "daily rollup must partial-aggregate after the lag window")
  }

  test("interval coverage: lineitem reduces before any window") {
    val p = plan("q_interval_coverage")
    assert(!p.contains("CartesianProduct"))
    // the two windows must share one (custkey) sort — not re-sort
    assert("Window".r.findAllIn(p).length <= 2,
      s"carry-max and island windows should plan together:\n$p")
  }

  test("tpch q3: top-10 through a bounded heap, never a global sort") {
    val p = plan("q_tpch_q3")
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy+limit must plan the bounded heap:\n$p")
  }

  test("tpch q4: EXISTS plans as a left-semi join") {
    val p = plan("q_tpch_q4")
    assert(p.contains("LeftSemi"), s"expected a semi join:\n$p")
  }

  test("tpch q6: band filters push to the parquet scan") {
    val p = plan("q_tpch_q6")
    assert(p.contains("PushedFilters: [IsNotNull"),
      s"discount/quantity filters must push down:\n$p")
    assert(!p.contains("l_orderkey"), "unused columns must prune")
  }

  test("sampled reconcile: the key-mod slice filters before the join") {
    val p = plan("q_recon_sampled")
    // both sides must reduce to the sample before joining — the
    // filter sits under the join, not above it
    assert("Filter .*%.*16.*= 0".r.findAllIn(p).length >= 2 ||
      "\\(.*% 16\\) = 0".r.findAllIn(p).length >= 2,
      s"sample predicate must apply on both sides pre-join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("pattern negation: both lookaheads share ONE window sort, no join") {
    val p = plan("q_pattern_negation")
    assert("Window".r.findAllIn(p).length == 1,
      s"the two lookahead mins must ride one window:\n$p")
    assert(!p.contains("Join"), s"no self-join in the pattern plan:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      "one user-keyed exchange only")
  }

  test("audience overlap: per-user set collapse, never an events self-join") {
    val p = plan("q_audience_overlap")
    assert(!p.contains("SortMergeJoin"),
      s"events must not self-join shuffle-side:\n$p")
    assert(p.contains("collect_set"), "the per-user set collapse is the plan")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2,
      "type counts join the pair table broadcast-side")
  }

  test("join discovery: one collect_set pass with in-map pair expansion, " +
    "no per-column distincts, no value self-join") {
    val p = plan("q_join_discovery")
    // the r12 one-pass rewrite: every value groups ONCE into its set
    // of containing columns; pairs expand in-map (PairCombos), so the
    // plan has no value-keyed self-join and exactly one fact-sized
    // exchange under the set aggregation
    assert(!p.contains("CartesianProduct"))
    // the only joins left are broadcast attaches of the tiny
    // per-column tables — a value self-join would be a fact-sized
    // SortMergeJoin
    assert(!p.contains("SortMergeJoin"),
      s"no value self-join in the one-pass shape:\n$p")
    assert(p.contains("collect_set"), "the value→columns set collapse is the plan")
    assert(p.contains("pair_combos"),
      s"in-map pair expansion expected:\n$p")
  }

  test("fd discovery: two-level aggregation with map-side partials, no join") {
    val p = plan("q_fd_discovery")
    assert(!p.contains("Join"), s"FD check is pure aggregation:\n$p")
    assert(p.contains("partial_count"), "map-side partials expected")
  }

  test("top eigen: result is a bounded local table; the heavy lifting is " +
    "embedCovariance's audited one-scan kernel") {
    val p = plan("q_top_eigen")
    assert(p.contains("LocalTableScan"),
      s"power iteration output must be the d-row local table:\n$p")
    val cov = plan("q_embed_cov")
    assert(cov.contains("vec_moments") || cov.contains("VecMoments"),
      s"covariance must come from the one-scan kernel:\n$cov")
  }

  // ---- fixed-round graph family: per-ROUND plan shapes ------------
  // The outputs of these operators are checkpoint leaves, so the
  // shapes their scale design lives in (hash-joined gathers, bloom-
  // pruned scans, co-partitioned self-joins) never appear in the
  // final executedPlan. IterState's probe captures each round's state
  // BEFORE its checkpoint truncates the plan (r9 verdict task 1).

  private def roundPlans(name: String): Seq[String] = {
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    graft.operators.IterState.probe.set(
      df => buf += df.queryExecution.executedPlan.toString)
    try SparkEntry.queries(name)(spark, sf)
    finally graft.operators.IterState.probe.remove()
    buf.toSeq
  }

  test("iterative gathers are shuffled hash joins, never sort-merge: " +
    "the once-partitioned edge table must not re-sort per round") {
    for (q <- Seq("q_pagerank", "q_pagerank_seeded", "q_hits",
        "q_kcore", "q_label_prop", "q_bfs_depth")) {
      val plans = roundPlans(q)
      assert(plans.nonEmpty, s"$q fired no round probes")
      plans.foreach { p =>
        assert(p.contains("ShuffledHashJoin"),
          s"$q round gather lost its hash join:\n$p")
        assert(!p.contains("SortMergeJoin"),
          s"$q round plan sorts the edge stream:\n$p")
      }
    }
  }

  test("pagerank gather partial-aggregates map-side before its exchange") {
    val plans = roundPlans("q_pagerank")
    plans.foreach { p =>
      assert(p.contains("partial_sum"),
        s"gather must map-side combine contributions:\n$p")
    }
  }

  test("triangle closure: bloom prunes wedges inside the self-join " +
    "stage; the wedge self-join is exchange-free over the persisted " +
    "oriented list") {
    val plans = roundPlans("q_triangles")
    assert(plans.nonEmpty, "triangleStats no longer routes through the probe")
    val p = plans.last
    assert(p.contains("might_contain"),
      s"bloom prune missing from the wedge stage:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the wedge/closure joins must hash, never sort the stream:\n$p")
    // the one-time layout exchange inside the cached oriented plan is
    // REPARTITION_BY_NUM; a join-forced re-exchange of the oriented
    // list would print ENSURE_REQUIREMENTS on the src key — the exact
    // regression this pins (localCheckpoint under AQE loses the
    // partitioning; persist keeps it)
    assert(!("Exchange hashpartitioning\\(src#\\d+L?, \\d+\\), ENSURE_REQUIREMENTS".r
        .findFirstIn(p).isDefined),
      s"wedge self-join re-exchanged the oriented edge list:\n$p")
  }

  test("hyperball round 1 never moves a register; round 2+ contrib is " +
    "bloom-pruned at the scan and hash-joined") {
    val plans = roundPlans("q_neighborhood")
    assert(plans.length >= 2, s"expected sketch + contrib probes, got ${plans.length}")
    val round1 = plans.head
    assert(round1.contains("partial_hll_sketch"),
      s"round 1 must aggregate raw edges in update mode, map-side:\n$round1")
    assert(!round1.contains("ShuffledHashJoin") && !round1.contains("SortMergeJoin"),
      s"round 1 must not join registers:\n$round1")
    val contrib = plans(1)
    assert(contrib.contains("might_contain"),
      s"round-2 contrib must bloom-prune the edge scan:\n$contrib")
    assert(contrib.contains("ShuffledHashJoin") && !contrib.contains("SortMergeJoin"),
      s"changed sketches must hash-join the pruned edges:\n$contrib")
    assert(contrib.contains("partial_hll_merge"),
      s"contrib must partial-merge registers map-side:\n$contrib")
  }

  test("hyperball merge round: union closes through a hash join on a " +
    "connected graph (the fixture's bipartite feed exits early)") {
    import org.apache.spark.sql.functions._
    val n = 60L
    val fwd = spark.range(n - 1).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val edges = fwd.unionByName(
      fwd.select(col("dst").as("src"), col("src").as("dst")))
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    graft.operators.IterState.probe.set(
      df => buf += df.queryExecution.executedPlan.toString)
    val out =
      try graft.operators.Graph.neighborhoodSize(edges, 3, p = 10)
      finally graft.operators.IterState.probe.remove()
    assert(out.count() == n)
    val merges = buf.filter(_.contains("hll_union"))
    assert(merges.nonEmpty, s"no merge round fired (probes: ${buf.length})")
    merges.foreach { p =>
      assert(p.contains("ShuffledHashJoin") && !p.contains("SortMergeJoin"),
        s"sketch merge must hash-join contrib into the self side:\n$p")
    }
  }

  test("bucketed tables join with zero exchanges (the 100 TB co-location path)") {
    // the strategy SURVEY §5 prescribes for repeated large-large joins
    // (candidate fetch, reconcile): pre-bucket both sides on the key
    val dir = java.nio.file.Files.createTempDirectory("bucketed").toString
    val docs = Tables.documents(spark, sf)
    try {
      docs.select("doc_id", "source").write.bucketBy(4, "doc_id").sortBy("doc_id")
        .option("path", s"$dir/d1").saveAsTable("ba_docs1")
      docs.select("doc_id", "n_chars").write.bucketBy(4, "doc_id").sortBy("doc_id")
        .option("path", s"$dir/d2").saveAsTable("ba_docs2")
      // force the large-large strategy (at test SF the planner would
      // broadcast these tiny tables and skip the bucketed path)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("ba_docs1").join(spark.table("ba_docs2"), "doc_id")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true"), s"planner skipped the buckets:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle either side:\n$p")
      assert(joined.count() == docs.count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS ba_docs1")
      spark.sql("DROP TABLE IF EXISTS ba_docs2")
    }
  }
}
