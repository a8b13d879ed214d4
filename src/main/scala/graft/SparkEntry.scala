package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.dedup.Dedup
import graft.etl.{ChillPipeline, Constant, Derived, FieldRule, FromFilename, FromTag, LibraryConfig, LibraryRun, Lookup, TableRoute}
import graft.multimodal.BinaryPipeline
import graft.operators.{Analytics, Graph, Maintenance, Reconcile, Report, Rollups}
import graft.text.TextOps

/** Driver contract — one entry per implemented operator from
  * SURVEY.md §2, plus the DuckDB oracle SQL used by the correctness
  * gate. Determinism rules (SURVEY.md §6): decimal sums, single-
  * division doubles, explicit tie-breaks, UTC, no now()/rand().
  */
object SparkEntry {

  /** Flagship: the config-driven ETL pipeline (SURVEY §2 A2,A5-A8,B1)
    * on sf0.001; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    etlPipeline(spark, "/root/testdata/sf0.001")

  // ---- shared helpers -------------------------------------------------

  /** 5-minute epoch bucket as a timestamp (µs). */
  private def bucket5m(ts: org.apache.spark.sql.Column) =
    timestamp_seconds((floor(unix_timestamp(ts) / 300) * 300).cast("long"))

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** A7/A2/A5/A6 flagship pipeline: events feed → constant + derived +
    * lookup fields → routed to the "purchase" table at 5-minute grain.
    */
  private def etlPipeline(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(s, dir)
    val customer = Tables.customer(s, dir)
    val rules: Seq[FieldRule] = Seq(
      Constant("schema_name", lit("PM_SCHEMA")),
      Derived("datetime", bucket5m(col("ts")).cast("timestamp_ntz")),
      Derived("k_code", from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k")),
      Derived("scaled_value", col("value") * 100),
      Lookup("customer_name", customer, Seq("user_id" -> "c_custkey"), "c_name", lit("UNKNOWN")))
    val routes = Seq(
      TableRoute("purchase", col("event_type") === "purchase",
        Seq("schema_name", "datetime", "user_id", "customer_name", "k_code", "scaled_value")))
    ChillPipeline.run(events, rules, routes)("purchase")
  }

  // ---- query registry -------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // B1-B3: rollup cascade
    "q_rollup_5m" -> ((s, dir) =>
      Rollups.fiveMinute(Tables.events(s, dir))),
    "q_rollup_hourly" -> ((s, dir) =>
      Rollups.hourlyFromFiveMinute(Rollups.fiveMinute(Tables.events(s, dir)))),
    "q_rollup_daily" -> ((s, dir) =>
      Rollups.dailyPerUser(Tables.events(s, dir))),
    // B3b: 15-minute + weekly/monthly/yearly calendar rollups
    "q_rollup_15m" -> ((s, dir) =>
      Rollups.fifteenMinute(Tables.events(s, dir))),
    "q_rollup_weekly" -> ((s, dir) =>
      Rollups.calendarPerType(Tables.events(s, dir), "week")),
    "q_rollup_monthly" -> ((s, dir) =>
      Rollups.calendarPerType(Tables.events(s, dir), "month")),
    "q_rollup_yearly" -> ((s, dir) =>
      Rollups.calendarPerType(Tables.events(s, dir), "year")),
    // KPI formulas over rolled-up counters
    "q_kpi_daily" -> ((s, dir) =>
      graft.operators.Kpi.dailyKpis(Tables.events(s, dir))),
    // order-statistic KPIs (exact percentiles)
    "q_kpi_percentiles" -> ((s, dir) =>
      graft.operators.Kpi.valuePercentiles(Tables.events(s, dir))),
    // sketch-based percentiles (the 100 TB path; rows-only oracle,
    // error bound spec-tested against the exact values)
    "q_kpi_percentiles_approx" -> ((s, dir) =>
      graft.operators.Kpi.valuePercentilesApprox(Tables.events(s, dir))),
    // B4: cfg/dimension extraction
    "q_cfg_extract" -> ((s, dir) =>
      Maintenance.cfgExtract(Tables.events(s, dir))),
    // B5: thinout / retention — the cutoff filters the *raw* on-disk
    // ts column (nanos long or timestamp) so it pushes down to the
    // parquet scan (PushedFilters); on a date-partitioned table this
    // becomes partition pruning
    "q_thinout" -> ((s, dir) => {
      val raw = Tables.eventsRaw(s, dir)
      val cutoff = Tables.eventTsLiteral(raw, "2024-01-15T00:00:00Z")
      Tables.normalizeEventTs(Maintenance.thinout(raw, "ts", cutoff))
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
        .select("event_id", "ts", "user_id", "event_type", "value")
    }),
    // B6: idempotent delete+reload
    "q_delete_reload" -> ((s, dir) => {
      val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
      val base = ev.select("event_id", "day", "user_id", "event_type", "value")
      val incoming = ev
        .filter(col("ts") >= to_timestamp(lit("2024-01-20 00:00:00")))
        .withColumn("value", col("value") * 2)
        .select("event_id", "day", "user_id", "event_type", "value")
      Maintenance.deleteReload(base, incoming, "day")
    }),
    // B7: error summarization
    "q_error_summary" -> ((s, dir) =>
      Maintenance.errorSummary(Tables.events(s, dir))),
    // A6: lookup enrichment with default-on-miss
    "q_lookup_enrich" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val nationName = Tables.supplier(s, dir).join(
          Tables.nation(s, dir),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      val rules: Seq[FieldRule] = Seq(
        Lookup("brand", Tables.part(s, dir), Seq("l_partkey" -> "p_partkey"), "p_brand", lit("UNKNOWN")),
        Lookup("supp_nation", nationName, Seq("l_suppkey" -> "s_suppkey"), "n_name", lit("UNKNOWN")),
        Derived("net_price", col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
      FieldRule.applyAll(li, rules)
        .select("l_orderkey", "l_linenumber", "brand", "supp_nation", "net_price")
    }),
    // flagship ETL pipeline
    "q_etl_pipeline" -> ((s, dir) => etlPipeline(s, dir)),
    // A3: filename-derived field (Partrans.py:145-149) — the feed is
    // rendered to raw lines whose _file encodes node id + day, the
    // FromFilename rules regexp-extract them back, and the oracle
    // recomputes the rollup from the source columns, so a wrong
    // extraction breaks the hash
    "q_filename_field" -> ((s, dir) => {
      val lines = Tables.events(s, dir).select(
        concat(lit("/loads/NODE"), pmod(col("user_id"), lit(7)).cast("string"),
          lit("_20240101.csv")).as("_file"),
        concat_ws("|", col("event_id"), col("event_type"),
          floor(col("value") * 100.0 + 0.5).cast("long")).as("value"))
      val parsed = ChillPipeline.sliceLines(lines, "|",
        Seq("event_id", "event_type", "cents"), 0, 0, Set.empty)
      FieldRule.applyAll(parsed, Seq(
          FromFilename("node_id", "NODE(\\d+)_", 1),
          FromFilename("file_day", "_(\\d{8})\\.csv", 1)))
        .groupBy(col("node_id"), col("file_day"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents").cast("long")).as("sum_cents"))
    }),
    // A4: tag-derived field (Partrans.py:151-157) — per-file header
    // lines carry a #REGION tag; withTagColumnsFrom captures the
    // first matching line per file (broadcast back onto the body, the
    // feed never shuffles) and the FromTag rule parses it
    "q_tag_field" -> ((s, dir) => {
      val fkey = pmod(col("user_id"), lit(5)).cast("string")
      val body = Tables.events(s, dir).select(
        concat(lit("feed_"), fkey, lit(".csv")).as("_file"),
        concat_ws("|", col("event_id"), col("event_type"),
          floor(col("value") * 100.0 + 0.5).cast("long")).as("value"))
      val headers = s.range(5).select(
        concat(lit("feed_"), col("id").cast("string"), lit(".csv")).as("_file"),
        concat(lit("#REGION=R"), (col("id") * 10).cast("string")).as("value"))
      val lines = headers.unionByName(body)
      val parsed = ChillPipeline.sliceLines(body, "|",
        Seq("event_id", "event_type", "cents"), 0, 0, Set.empty)
      val tagRule = FromTag("region", "#REGION",
        c => regexp_extract(c, "#REGION=(R\\d+)", 1))
      FieldRule.applyAll(
          ChillPipeline.withTagColumnsFrom(lines, parsed, Seq(tagRule)),
          Seq(tagRule))
        .groupBy(col("region"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents").cast("long")).as("sum_cents"))
    }),
    // C3c: string-compare diff fallback (HlxTools.py:923-929) — the
    // perturbation appends a suffix on a deterministic key slice
    "q_string_diffs" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val l = o.select(col("o_orderkey"), col("o_orderpriority").as("v"))
      val r = o.select(col("o_orderkey"),
        when(col("o_orderkey") % 31 === 0,
          concat(col("o_orderpriority"), lit("-X")))
          .otherwise(col("o_orderpriority")).as("v"))
      Reconcile.stringDiffs(l, r, "o_orderkey", "v")
    }),
    // C5: missing-column (schema) compare (HlxTools.py:806-818) — a
    // spec column dropped from the data, an extra data column, and
    // the suite rendering; pure metadata, the oracle pins the rows
    "q_missing_columns" -> ((s, dir) => {
      val spec = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority", "o_audit_flag")
      val data = Tables.orders(s, dir).drop("o_orderdate")
        .withColumn("o_load_ts", lit(0L))
      val (missing, extra) = Reconcile.missingColumns(spec, data)
      Report.missingColumnsSuite(s, "orders", missing, extra)
    }),
    // C6: junit report table (TestReport.py:26-174) — the full
    // reconcile→suites→merge input of toJunitXml, over a deliberately
    // dirty compare (drop every 97th key, shift every 89th value);
    // integer cents keep every rendered message engine-portable
    "q_junit_report" -> ((s, dir) => {
      val l = Tables.orders(s, dir).select(col("o_orderkey"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
      val r = l.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("cents",
          when(col("o_orderkey") % 89 === 0, col("cents") + 5L)
            .otherwise(col("cents")))
      val missing = Reconcile.missingKeys(l, r, "o_orderkey")
      val diffs = Reconcile.counterDiffs(l, r, "o_orderkey", Seq("cents"))
      Report.merge(
        Report.countSuite(
          Reconcile.countCompare(l, r, "o_orderkey"), "o_orderkey"),
        Report.missingSuite(missing, "o_orderkey"),
        Report.summaryRow("missing_records", "orders", missing),
        Report.counterDiffSuite(diffs, "o_orderkey"),
        Report.summaryRow("value_diffs", "orders", diffs))
    }),
    // C7: full library cycle (chill.py:45-227): raw feed render →
    // rawCsv parse → rules (constant/derived/lookup) → route →
    // partition-overwrite load → read back → all five reconcile
    // suites; graded as the per-(suite, status) case counts, which
    // the oracle recomputes from the feed (a clean cycle must report
    // exactly one green row per summary suite and one per key)
    "q_library_cycle" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_cycle")
      val rawDir = s"$tmp/raw"
      Tables.events(s, dir).filter(col("event_type") === "purchase")
        .select(concat_ws("|",
          col("event_id"), to_date(col("ts")), col("user_id"),
          floor(col("value") * 100.0 + 0.5).cast("long")).as("value"))
        .coalesce(1).write.mode("overwrite").text(rawDir)
      val cfg = LibraryConfig(
        // plain dir: Spark file sources skip _SUCCESS/_-prefixed files
        rawPath = rawDir,
        delimiter = "|",
        rawColumns = Seq("event_id", "day", "user_id", "cents"),
        skipHeader = 0, skipFooter = 0, ignoreLines = Set.empty,
        rules = Seq(
          Constant("lib", lit("PM_LIB")),
          Derived("user_n", col("user_id").cast("long")),
          Derived("cents_n", col("cents").cast("long")),
          Lookup("cust_name", Tables.customer(s, dir),
            Seq("user_n" -> "c_custkey"), "c_name", lit("UNKNOWN"))),
        tagRules = Seq.empty,
        routes = Seq(TableRoute("purchase_t", col("cents_n").isNotNull,
          Seq("day", "event_id", "user_n", "cents_n", "lib", "cust_name"))),
        partitionCol = "day",
        warehouseDir = s"$tmp/wh")
      LibraryRun.run(s, cfg, keyCols = Seq("day", "event_id"))
        .report
        .groupBy(col("suite"), col("status"))
        .agg(count(lit(1)).as("n_cases"))
    }),
    // C8: physical idempotent reload (HlxTools.py:372-394 as dynamic
    // partition overwrite): full load, then a re-delivery of the tail
    // days with doubled values — the read-back must show exactly the
    // incremental days replaced and every other day untouched
    "q_reload_readback" -> ((s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_wh")
        .toString + "/t"
      val ev = Tables.events(s, dir).select(col("event_id"),
        to_date(col("ts")).as("day"), col("user_id"), col("event_type"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      Maintenance.overwritePartitions(ev, wh, "day")
      val inc = ev.filter(col("day") >= lit("2024-01-20").cast("date"))
        .withColumn("cents", col("cents") * 2L)
      Maintenance.overwritePartitions(inc, wh, "day")
      s.read.parquet(wh)
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
    }),
    // E8: the SQL function surface — graft's native expressions
    // reached through spark.sql text (registry injection), graded by
    // an oracle that expands the int_vec_dot product symbolically
    "q_sql_surface" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      Tables.events(s, dir).createOrReplaceTempView("events_sql")
      s.sql("""
        SELECT user_id,
          int_vec_dot(
            array(CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS INT),
                  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS INT),
                  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS INT),
                  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS INT)),
            array(3, 1, 5, 2)) AS score
        FROM events_sql GROUP BY user_id""")
    }),
    // E13: continuous rollup maintenance in batch — the identical
    // delta-write / compact / merge-read path foreachBatch drives
    // (EventStream.rollupMaintenance): two "micro-batches" split by
    // event_id parity write (_day, batch) delta partitions — DAY
    // dirs with 5-minute buckets as rows, never a dir per bucket
    // (the per-dir commit protocol at 288 dirs/day dominated the
    // rig's wall time and is the over-partitioning the compaction
    // planner flags) — the compactor folds them, and the reader view
    // must equal the plain one-shot 5-minute rollup bit-for-bit
    "q_rollup_maintenance" -> ((s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft_roll")
        .toString + "/wh"
      val ev = Tables.events(s, dir)
        .filter(to_date(col("ts")) === lit("2024-01-15").cast("date"))
      Seq(0L, 1L).foreach { bid =>
        // (no explicit repartition here: overwritePartitions now
        // rebalances on the partition columns itself — guide §6)
        val delta = Rollups.fiveMinute(ev.filter(pmod(col("event_id"), lit(2)) === bid))
          .withColumn("_batch_id", lit(bid))
          .withColumn("_day", floor(col("bucket_start") / 86400L))
        Maintenance.overwritePartitions(delta, wh,
          Seq("_day", "_batch_id"))
      }
      graft.streaming.EventStream.compactRollup(s, wh)
      graft.streaming.EventStream.readRollup(s, wh)
    }),
    // E14: config-driven continuous ingestion (chill.py's connect
    // daemon as a file stream): raw files land in a watched dir, one
    // AvailableNow pass of LibraryRun.stream parses them with the
    // SAME config rules and partition-overwrites the routed table,
    // and the warehouse read-back is graded against the feed
    "q_stream_ingest" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_ing")
      val rawDir = s"$tmp/raw"
      val wh = s"$tmp/wh"
      val feed = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(concat_ws("|",
          col("event_id"), to_date(col("ts")), col("user_id"),
          floor(col("value") * 100.0 + 0.5).cast("long")).as("value"))
      feed.filter(xxhash64(col("value")) % 2 === 0)
        .coalesce(1).write.mode("overwrite").text(rawDir)
      feed.filter(xxhash64(col("value")) % 2 =!= 0)
        .coalesce(1).write.mode("append").text(rawDir)
      val cfg = LibraryConfig(
        rawPath = rawDir,
        delimiter = "|",
        rawColumns = Seq("event_id", "day", "user_id", "cents"),
        skipHeader = 0, skipFooter = 0, ignoreLines = Set.empty,
        rules = Seq(Derived("cents_n", col("cents").cast("long"))),
        tagRules = Seq.empty,
        routes = Seq(TableRoute("purchase_t", col("cents_n").isNotNull,
          Seq("day", "event_id", "cents_n"))),
        partitionCol = "day",
        warehouseDir = wh)
      val q = LibraryRun.stream(s, cfg)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$tmp/ck")
        .start()
      q.awaitTermination()
      s.read.parquet(s"$wh/purchase_t")
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents_n")).as("sum_cents"))
    }),
    // C1: count compare
    "q_recon_counts" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      Reconcile.countCompare(li, li.filter(col("l_linenumber") =!= 7), "l_orderkey")
    }),
    // C2: missing keys both directions
    "q_recon_missing" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      Reconcile.missingKeys(o, o.filter(col("o_orderstatus") =!= "F"), "o_orderkey")
    }),
    // C3: value diff with tolerance
    "q_recon_diffs" -> ((s, dir) => {
      val left = Tables.orders(s, dir).select(
        col("o_orderkey").as("order_key"),
        dec(col("o_totalprice")).cast("decimal(18,4)").as("val"))
      val right = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("order_key"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") - dec(col("l_discount"))))
          .cast("decimal(18,4)").as("val"))
      Reconcile.valueDiffs(left, right, "order_key", "val", 0.01)
        .select(col("order_key"), col("val_left").cast("double").as("val_left"),
          col("val_right").cast("double").as("val_right"),
          col("diff").cast("double").as("diff"))
    }),
    // C3b: all-counter diff in one pass (reference loops counters per row)
    "q_recon_diffs_multi" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val keyed = li.withColumn("line_key", col("l_orderkey") * 10 + col("l_linenumber"))
      val perturbed = keyed
        .withColumn("l_quantity",
          when(col("l_linenumber") === 1, col("l_quantity") + 1).otherwise(col("l_quantity")))
        .withColumn("l_discount",
          when(col("l_linenumber") === 2, col("l_discount") * 0.5).otherwise(col("l_discount")))
      Reconcile.valueDiffsMulti(keyed, perturbed, "line_key",
        Seq("l_quantity", "l_extendedprice", "l_discount"), 0.000001)
    }),
    // C14: rollup-cascade integrity audit — daily-direct must equal
    // daily-via-5M exactly (the decimal cascade makes it equality,
    // not tolerance); compare_data pointed at the warehouse itself
    "q_rollup_audit" -> ((s, dir) =>
      Reconcile.rollupAudit(Tables.events(s, dir))),
    // D84: next-word suggestion table (bigram-LM artifact) — top-3
    // continuations per word with conditional probability
    "q_next_word" -> ((s, dir) =>
      TextOps.nextWordTable(Tables.documents(s, dir), 3)),
    // C9b: CDC apply — latest change per key wins; U overridden by a
    // later U, D beats earlier U, I lands new keys (all mod-derived)
    "q_cdc_apply" -> ((s, dir) => {
      val (base, changes) = cdcFixture(s, dir)
      Maintenance.applyCdc(base, changes, "k", Seq("change_seq"))
    }),
    // C17: time-travel snapshot — the SAME change stream as
    // q_cdc_apply reconstructed AS OF change_seq 2: the seq-3 deletes
    // have not happened yet, U2 already beats U1, the seq-1 inserts
    // are in — a distinct state from both the base and the full apply
    "q_snapshot_at" -> ((s, dir) => {
      val (base, changes) = cdcFixture(s, dir)
      Maintenance.snapshotAt(base, changes, "k", "change_seq", 2)
    }),
    // E72: pattern with negation — view → next purchase with no error
    // strictly between; the MATCH_RECOGNIZE shape funnels can't say
    "q_pattern_negation" -> ((s, dir) =>
      graft.operators.Analytics.patternWithNegation(
        Tables.events(s, dir), "view", "purchase", "error")
        .withColumn("start_ts", col("start_ts").cast("timestamp_ntz"))
        .withColumn("target_ts", col("target_ts").cast("timestamp_ntz"))),
    // E73: autocorrelation profile of each type's daily-count series,
    // lags 1..7 (the weekly-seasonality detector); exact BIGINT
    // moments, one double division+sqrt at the end
    "q_autocorr" -> ((s, dir) =>
      graft.operators.Analytics.autocorrelation(Tables.events(s, dir), 7)),
    // E72b: the streaming monitor form of pattern-with-negation run
    // in batch mode — emits only RESOLVED outcomes (a stream never
    // reaches batch's end-of-data 'none'); state carries pending
    // starts across micro-batches
    "q_stream_pattern" -> ((s, dir) =>
      graft.streaming.EventStream.patternNegationStream(
        Tables.events(s, dir), "view", "purchase", "error")
        .withColumn("start_ts", col("start_ts").cast("timestamp_ntz"))
        .withColumn("target_ts", col("target_ts").cast("timestamp_ntz"))),
    // C16: join-key discovery — distinct-value containment across the
    // star schema's candidate key columns; containment ≈ 1.0 one way
    // is the foreign-key signature
    "q_join_discovery" -> ((s, dir) =>
      Reconcile.joinKeyDiscovery(Seq(
        ("orders.o_custkey", Tables.orders(s, dir), "o_custkey"),
        ("customer.c_custkey", Tables.customer(s, dir), "c_custkey"),
        ("lineitem.l_orderkey", Tables.lineitem(s, dir), "l_orderkey"),
        ("orders.o_orderkey", Tables.orders(s, dir), "o_orderkey"),
        ("lineitem.l_partkey", Tables.lineitem(s, dir), "l_partkey"),
        ("part.p_partkey", Tables.part(s, dir), "p_partkey"),
        ("lineitem.l_suppkey", Tables.lineitem(s, dir), "l_suppkey"),
        ("supplier.s_suppkey", Tables.supplier(s, dir), "s_suppkey"),
        ("customer.c_nationkey", Tables.customer(s, dir), "c_nationkey"),
        ("nation.n_nationkey", Tables.nation(s, dir), "n_nationkey"),
        ("events.user_id", Tables.events(s, dir), "user_id")))),
    // C18: functional-dependency discovery — does A determine B
    // within a table (the hierarchy half of the catalog profile);
    // violating-key counts separate "nearly holds" from "unrelated"
    "q_fd_discovery" -> ((s, dir) =>
      Reconcile.functionalDependencies(Tables.orders(s, dir), "orders", Seq(
        ("o_orderkey", "o_custkey"), ("o_orderkey", "o_orderstatus"),
        ("o_custkey", "o_orderpriority"), ("o_orderstatus", "o_orderpriority")))
        .unionByName(
          Reconcile.functionalDependencies(Tables.lineitem(s, dir), "lineitem",
            Seq(("l_orderkey", "l_suppkey"), ("l_partkey", "l_returnflag"))))),
    // E74: audience-overlap matrix — distinct users per event-type
    // pair from ONE scan (per-user set collapse + in-map expansion)
    "q_audience_overlap" -> ((s, dir) =>
      graft.operators.Analytics.audienceOverlap(Tables.events(s, dir))),
    // D95: template-family mining by shared 8-word head — catches
    // form-letter/boilerplate instances whose tails diverge enough
    // to defeat whole-doc near-dup thresholds
    "q_template_mining" -> ((s, dir) =>
      TextOps.templateFamilies(Tables.documents(s, dir), 8)),
    // E75: Benford-style first-digit audit over order totals, per
    // priority class; digit from exact integer cents, never log10
    "q_benford" -> ((s, dir) =>
      graft.operators.Analytics.firstDigitProfile(
        Tables.orders(s, dir), "o_orderpriority", "o_totalprice")),
    // B34: reverse referential check — dimension rows no fact uses
    // (facts restricted to the big-ticket slice so the check has
    // positives at every SF — the "active subset" a migration loads)
    "q_unused_dims" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir)
            .filter(col("o_totalprice") > 300000.0)
            .select(col("o_custkey")).distinct(),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_unused_customers"))),
    // C15: primary-key uniqueness gate — a deterministic slice is
    // re-delivered (the double-load accident this check exists for)
    "q_duplicate_keys" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"))
      Reconcile.duplicateKeys(
        li.unionByName(li.filter(col("l_orderkey") % 97 === 0)),
        Seq("l_orderkey", "l_linenumber"))
    }),
    // B35: counter-type inference — cumulative (delta-roll it) vs
    // gauge (average it); integer cross-multiplied verdict
    "q_counter_types" -> ((s, dir) =>
      Rollups.counterTypeReport(Tables.events(s, dir))),
    // E71: peak concurrent open orders per nation + first peak day
    // (the capacity twin of the overlap report; same clamped spans)
    "q_peak_concurrency" -> ((s, dir) => {
      val spans = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(max(to_date(col("l_shipdate"))).as("e"))
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("key"),
          to_date(col("o_orderdate")).as("s"),
          greatest(col("e"), to_date(col("o_orderdate"))).as("e"))
      Analytics.peakConcurrency(spans)
    }),
    // D92: word burstiness — occurrences per containing doc, the
    // topical-vs-function-word lens (min df 5, top 20)
    "q_burstiness" -> ((s, dir) =>
      TextOps.burstiness(Tables.documents(s, dir), 5L, 20)),
    // E70: additive seasonal decomposition (centered 7-day trend +
    // rational dow component + residual), full windows only
    "q_seasonal_decomp" -> ((s, dir) =>
      Analytics.seasonalDecompose(Tables.events(s, dir))),
    // D90: Borda rank-ensemble of three quality signals — rank sums
    // are outlier-immune where score averages are not
    "q_rank_ensemble" -> ((s, dir) =>
      TextOps.bordaEnsemble(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("n_chars"),
            size(split(col("text"), " ")).cast("long").as("n_words"),
            regexp_count(col("text"),
              lit("\\b(the|a|an|of|and|in|to|is)\\b")).cast("long")
              .as("n_stop")),
        "doc_id",
        Seq(("chars", col("n_chars"), true),
          ("words", col("n_words"), true),
          ("stop", col("n_stop"), false)))
        .filter(col("final_rank") <= 50)),
    // E69: two-proportion A/B evaluation — deterministic z statistic
    // (variant = user parity, success = a big-ticket purchase)
    "q_ab_test" -> ((s, dir) => {
      val users = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 150.0, 1L).otherwise(0L)).as("success"))
        .select((col("user_id") % 2).cast("int").as("variant"),
          col("success"))
      Analytics.abTest(users)
    }),
    // E67: Herfindahl supplier concentration per nation (by line
    // count — counts keep the squared sums in BIGINT at any SF)
    "q_hhi" -> ((s, dir) =>
      Analytics.hhiConcentration(
        Tables.lineitem(s, dir)
          .join(Tables.supplier(s, dir),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, dir)),
            col("s_nationkey") === col("n_nationkey")),
        "n_name", "s_suppkey")),
    // E68: retention half-life per cohort day (-1 = never halves)
    "q_retention_halflife" -> ((s, dir) =>
      Analytics.retentionHalfLife(Tables.events(s, dir))),
    // E66: interval-overlap pairs — concurrent same-nation order
    // spans via the grid-cell equi-join (no inequality nested loop)
    "q_interval_overlap" -> ((s, dir) => {
      val spans = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(max(to_date(col("l_shipdate"))).as("e"))
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("key"), col("o_orderkey").as("id"),
          to_date(col("o_orderdate")).as("s"),
          // the feed contains inverted spans (last ship before order
          // date); clamp to zero-length — the s <= e contract both
          // overlap forms require
          greatest(col("e"), to_date(col("o_orderdate"))).as("e"))
      // the sweep-line aggregate form: same report as the pair miner
      // without materializing the quadratic pair stream (20× at sf0.1)
      Analytics.intervalOverlapStats(spans)
    }),
    // E65: HyperBall 2-hop neighborhood sizes over the directed
    // trading graph (rows-only by design: HLL registers have no SQL
    // replay; the accuracy envelope is spec-pinned vs exact BFS).
    // p=10 at graded scales (1KB registers, σ≈3.3% — inside the 5%
    // spec envelope); past ~10⁶ nodes adaptiveHllPrecision narrows
    // the registers under a byte budget (p=9/σ≈4.6% at the 16M-node
    // decade probe, floor p=8/σ≈6.5% — Boldi–Vigna run web-scale
    // graphs at p 4–6). Register motion itself is bounded by design:
    // round 1 aggregates raw edges (no register ever shuffles) and
    // later rounds ship only CHANGED sketches (the paper's systolic
    // form) — see Graph.neighborhoodSize
    // (the Multi long-id edge feed: register max-merge is idempotent
    // over duplicate edges, so the fact-sized dedup exchange buys
    // nothing; long ids halve every remaining byte moved)
    "q_neighborhood" -> ((s, dir) =>
      Graph.neighborhoodSize(
        Graph.tradingEdgesLongDirectedMulti(
          Tables.lineitem(s, dir), Tables.orders(s, dir)), 2, p = 10)
        .select(Graph.tradingNodeLabel(col("node")).as("node"),
          col("reach_est"))),
    // D85: k-anonymity risk over (lang, source, length-bucket)
    // quasi-identifiers — the dataset-release governance gate
    "q_k_anonymity" -> ((s, dir) =>
      Analytics.kAnonymityReport(
        Tables.documents(s, dir)
          .withColumn("len_bucket", expr("n_chars div 100")),
        Seq("lang", "source", "len_bucket"), 5L)),
    // D86: PII surface report — same class regexes as the redactor;
    // PII injected deterministically so the counters have positives
    "q_pii_report" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(
        col("doc_id"), col("source"),
        when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" contact bob@example.com")))
          .when(col("doc_id") % 13 === 0,
            concat(col("text"), lit(" from 10.1.2.3")))
          .otherwise(col("text")).as("text"))
      TextOps.piiReport(docs)
    }),
    // C13: the 100 TB compare mode — both sides sample the SAME
    // key-mod slice before joining (pairs every sampled key; the
    // predicate pushes into both scans)
    "q_recon_sampled" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val keyed = li.withColumn("line_key",
        col("l_orderkey") * 10 + col("l_linenumber"))
      val perturbed = keyed
        .withColumn("l_quantity",
          when(col("l_linenumber") === 1, col("l_quantity") + 1)
            .otherwise(col("l_quantity")))
      Reconcile.sampledValueDiffs(keyed, perturbed, "line_key",
        Seq("l_quantity", "l_extendedprice"), 0.000001, 16)
    }),
    // skew-salted aggregation (equivalent to direct groupBy agg)
    "q_skew_agg" -> ((s, dir) =>
      graft.operators.Skew.saltedAggregate(Tables.events(s, dir), "event_type", "value", 32)),
    // HLL sketch rollup (approximate; rows-only oracle, bounds spec-tested)
    "q_rollup_approx" -> ((s, dir) =>
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          count(lit(1)).as("n_events"))),
    // E6b: the sketch cascade — 5-minute buckets carry HLL registers
    // for distinct users, daily rolls up by register-max without
    // re-scanning raw. FULL oracle since r11 (hllCascadeOracle):
    // register-max associativity lets DuckDB rebuild the day-level
    // registers directly and replay the estimate bit-exactly;
    // accuracy and cascade==direct identity remain spec-pinned
    "q_sketch_cascade" -> ((s, dir) => {
      val fine = Rollups.sketchPerType(Tables.events(s, dir), 300, 12)
      Rollups.coarsenSketch(fine, 86400)
        .select(col("bucket_start"), col("event_type"),
          graft.functions.HllFunctions.hllEstimate(col("users_hll"))
            .cast("long").as("est_users"),
          col("n_events"))
    }),
    // E6c: the histogram-sketch quantile cascade — 5-minute buckets
    // carry fixed-width value histograms, daily rolls up by count
    // addition (bit-identical to direct), and p50/p95 estimates read
    // off the merged counts with engine-exact interpolation (FULL
    // oracle, unlike the HLL cascade: DuckDB can replay a histogram)
    "q_hist_quantile" -> ((s, dir) => {
      val fine = Rollups.histSketchPerType(Tables.events(s, dir), 300, 0.0, 10.0, 50)
      val daily = Rollups.coarsenHist(fine, 86400)
      Rollups.histQuantiles(daily, Seq("bucket_start", "event_type"),
        0.0, 10.0, Seq(0.5, 0.95))
    }),
    // C10: one-scan table profile (ANALYZE-style column stats) over
    // the long/string columns of orders
    "q_table_profile" -> ((s, dir) =>
      Reconcile.tableProfile(Tables.orders(s, dir),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))),
    // C4: referential integrity summary
    "q_recon_referential" -> ((s, dir) =>
      Reconcile.referentialSummary(Tables.orders(s, dir), Tables.customer(s, dir),
        "o_custkey", "c_custkey")),
    // E1: top-N per group
    "q_topn_per_group" -> ((s, dir) =>
      Analytics.topNPerGroup(Tables.orders(s, dir), "o_custkey", "o_totalprice", "o_orderkey", 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rank").as("rnk"))),
    // E1b: top-N via custom bounded-heap aggregate (map-side combine;
    // same oracle as the window formulation)
    "q_topn_heap" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      o.groupBy(col("o_custkey"))
        .agg(graft.functions.TopKFunctions.topK(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
        .select(col("o_custkey"), posexplode(col("top")))
        .select(col("o_custkey"), (col("pos") + 1).cast("int").as("rnk"),
          col("col.tie").as("o_orderkey"), col("col.score").as("o_totalprice"))
    }),
    // as-of join: each purchase attributed to the user's most recent
    // prior error event
    "q_asof_attrib" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id").as("err_id"),
          col("value").as("err_value"))
      graft.operators.AsOf.asofJoin(purchases, errors, "user_id", "ts",
          Seq("err_id", "err_value"), "err_id")
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
    }),
    // E9b: forward as-of with a 1-hour horizon — each purchase
    // attributed to the user's NEXT error event, matches beyond the
    // horizon nulled
    "q_asof_forward" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id").as("err_id"),
          col("value").as("err_value"))
      graft.operators.AsOf.asofJoinForward(purchases, errors, "user_id", "ts",
          Seq("err_id", "err_value"), "err_id", Some(3600L))
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
    }),
    // E28: per-(type, day) inter-arrival cadence stats — the feed
    // stall/burst monitor
    "q_interarrival" -> ((s, dir) =>
      Analytics.interArrivalStats(Tables.events(s, dir))),
    // E12: the mapGroupsWithState keyed-state transform executed in
    // batch — graded on its integer surface (per-user event counts;
    // the double sum accumulates in iteration order and is not
    // hash-safe, so it stays spec-pinned)
    "q_user_totals" -> ((s, dir) =>
      graft.streaming.EventStream.runningUserTotals(Tables.events(s, dir))
        .select(col("user_id"), col("n_events"))),
    // E29: fixed-width value histogram per event type (50 buckets of
    // 10 over [0, 500); edge-clamped)
    "q_histogram" -> ((s, dir) =>
      Analytics.histogram(Tables.events(s, dir), "value", "event_type",
        0.0, 10.0, 50)),
    // D34: corpus decile stratification by word count (exact
    // interpolated decile thresholds, broadcast back — never ntile)
    "q_deciles" -> ((s, dir) =>
      Analytics.decileReport(Tables.documents(s, dir))),
    // E2: sessionization
    "q_sessionize" -> ((s, dir) =>
      Analytics.sessionize(Tables.events(s, dir), 1800L)
        .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
        .withColumn("session_end", col("session_end").cast("timestamp_ntz"))),
    // E15: bucketed range join — classify every order price against
    // each priority cohort's [min, max] envelope; the interval join
    // runs as a bucket equi-join, never a nested loop
    "q_range_band" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val bands = o.groupBy(col("o_orderpriority").as("band"))
        .agg(min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
      Analytics.rangeJoin(
          o.select(col("o_orderkey"), col("o_totalprice")), "o_totalprice",
          bands, "lo", "hi", bucketWidth = 50000.0)
        .groupBy(col("band")).agg(count(lit(1)).as("n_in_band"))
    }),
    // D1: exact dedup
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables.documents(s, dir)).select("keep_id", "n_copies")),
    // D1b: policy-based canonical selection — keep the copy from the
    // most-trusted source (priority = len(source) mod 3, the same
    // deterministic weights the mixture plan uses), doc_id tie-break
    "q_dedup_keep_best" -> ((s, dir) =>
      Dedup.keepBest(Tables.documents(s, dir), length(col("source")) % 3)),
    // D1c: duplication-rate observability per source
    "q_dup_rate_by_source" -> ((s, dir) =>
      Dedup.dupRateBySource(Tables.documents(s, dir))),
    // D2: n-gram jaccard near-dup
    "q_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), 3, 0.8)),
    // D2c: asymmetric containment near-dup (short doc inside long doc)
    "q_dedup_containment" -> ((s, dir) =>
      Dedup.ngramContainmentPairs(Tables.documents(s, dir), 3, 0.8)),
    // D2e: prefix-filtered similarity join (PPJoin family) — only
    // each set's prefix feeds the inverted index; recall 1.0 by
    // construction in the unescalated (w == n) regime that every
    // graded corpus is in, so it shares the exact oracle (the
    // closed-vocabulary escalated path is recall-gate-graded)
    "q_dedup_prefix" -> ((s, dir) =>
      Dedup.prefixJaccardPairs(Tables.documents(s, dir), 3, 0.8)),
    // D2b: the filtered corpus — near-dups dropped, survivors kept
    "q_dedup_filtered" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.dropNearDuplicates(docs, Dedup.ngramJaccardPairs(docs, 3, 0.8))
        .select("doc_id", "lang", "source", "n_chars")
    }),
    // wide counter table: per-day counts pivoted by event type
    "q_pivot_daily" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)),
    // D3: minhash LSH candidates — FULL oracle since r11: DuckDB
    // replays the whole sketch (per-word xxh64, shingle polynomial,
    // 128 variable-seed permutation minima, 4-step band folds) in
    // mod-2^64 HUGEINT arithmetic; see minhashOracle
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLshPairs(Tables.documents(s, dir), 3, 128, 32)),
    // D3 min-order fixture: the corpus doubled with ⌈0.55·n⌉-word
    // prefix variants (planted J≈0.55 pairs) so band collisions
    // depend on WHICH value wins each permutation minimum — grades
    // the signed min rule the high-J corpus can't distinguish
    "q_dedup_minhash_mid" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val ws = split(col("text"), " ")
      val variant = d.select(
        (col("doc_id") + lit(1000000L)).as("doc_id"),
        array_join(slice(ws, lit(1),
          greatest(ceil(size(ws) * lit(0.55)).cast("int"), lit(1))), " ").as("text"))
      Dedup.minhashLshPairs(d.unionByName(variant), 3, 128, 32)
    }),
    // D3b: sketch-then-verify minhash dedup — candidates verified
    // with the exact Jaccard; recall 1.0 at 0.8 (spec), so the result
    // equals the inverted-index path and shares its exact oracle
    "q_dedup_minhash_v" -> ((s, dir) =>
      Dedup.minhashNearDupPairs(Tables.documents(s, dir), 3, 0.8, 128, 32)),
    // D4: simhash near-dup — FULL oracle: the signature is a
    // deterministic bitwise majority over per-token xxh64, so DuckDB
    // replays it token-by-token (simhashOracle below) and rebuilds
    // every hamming<=3 pair; recall is 1.0 by pigeonhole (4 16-bit
    // chunks, 3 flips must leave one chunk intact), and the graded
    // corpus fits the bucket budget so no cap binds (the posting-
    // family invariant) — candidates == pairs exactly
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), 3)),
    // D5: embedding cosine near-dup in its real regime: the corpus is
    // doubled with exact duplicates (the planted near-dup set every
    // production dedup hunts) and banded LSH finds them at a 0.8
    // threshold — a duplicate pair collides in EVERY band (p=1 →
    // recall deterministically 1.0), while random pairs survive a
    // band with prob 2⁻⁸, so candidates stay ~1% of the pair space.
    // No unbounded self-join anywhere; candidates come from capped
    // posting buckets and are deduped before scoring. The hard
    // low-threshold regime (cos≈0.45, where LSH cannot prune) is
    // pinned by the recall-1.0 spec against exactPairs.
    "q_dedup_embed" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val corpus = base.unionByName(base.select(
        (col("vec_id") + 100000).as("vec_id"), col("embedding")))
      Ann.bandedLshPairsAuto(corpus, 64, 8, 0.8)
    }),
    // D6: brute-force cosine top-k
    "q_ann_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 10)
        .select("query_id", "neighbor_id", "rnk", "cos_sim")
    }),
    // D35: exact kNN graph with mutual-edge flags — the clustering
    // substrate; scored brute-force here, ivfSearch at scale
    "q_knn_graph" -> ((s, dir) =>
      Ann.knnGraph(Tables.embeddings(s, dir), 5)),
    // D35b: the scale path — IVF cells with a SHUFFLE probe join
    // (corpus-as-queries must not broadcast); rows-only by design
    // (approximate recall), pinned by a recall spec vs the exact graph
    "q_knn_graph_ivf" -> ((s, dir) =>
      // adaptive cell count (corpus/256, clamped): the fixed-nCells
      // probe join is quadratic in per-cell occupancy — the 100×
      // soak's spill-death; rows-only by declared design, recall
      // pinned by spec vs the exact graph
      Ann.knnGraphIvfAuto(Tables.embeddings(s, dir), 5, 6, refineIters = 2,
        nRows = Some(Tables.rowCount(s, dir, "embeddings")))),
    // D26: int8 embedding quantization, graded through exact integer
    // digests of the quantized vectors (sum, sum of squares)
    "q_embed_quantize" -> ((s, dir) =>
      Ann.quantizeInt8(Tables.embeddings(s, dir)).select(
        col("vec_id"), col("max_abs"),
        size(col("qvec")).as("n_dims"),
        aggregate(col("qvec"), lit(0L), (a, x) => a + x.cast("long")).as("sum_q"),
        aggregate(col("qvec"), lit(0L),
          (a, x) => a + x.cast("long") * x.cast("long")).as("sum_q2"))),
    // D26b: brute-force top-k over the quantized corpus — integer dot
    // products, scales cancel in the cosine ratio; full oracle
    "q_ann_quantized" -> ((s, dir) => {
      val q = Ann.quantizeInt8(Tables.embeddings(s, dir))
      Ann.quantizedTopK(q, q.filter(col("vec_id") < 5), 10)
        .select("query_id", "neighbor_id", "rnk", "cos_sim")
    }),
    // D6b: IVF-cell ANN (full oracle: DuckDB replays the fixed seed
    // cells and the probe; recall spec vs brute force)
    "q_ann_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.ivfTopK(emb, emb.filter(col("vec_id") < 5), 16, 4, 10)
        .select("query_id", "neighbor_id", "rnk", "cos_sim")
    }),
    // D6c: IVF ANN with k-means-refined centroids — FULL oracle since
    // r12: refineCentroids' means are decimal-exact (order-
    // independent), so the 2 Lloyd rounds unroll into DuckDB CTEs
    // (ivfKmeansOracle)
    "q_ann_ivf_kmeans" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.ivfTopK(emb, emb.filter(col("vec_id") < 5), 16, 4, 10, refineIters = 2)
        .select("query_id", "neighbor_id", "rnk", "cos_sim")
    }),
    // D6b-auto: the at-scale IVF config — cell count TRACKS the corpus
    // (fitIvfAuto, ⌈n/256⌉ clamped to [1,4096]) so per-cell occupancy
    // and therefore the probe join stay linear as the corpus grows;
    // the oracle recomputes the same cell count from COUNT(*), so
    // this is full-oracle at every scale factor, not just the one
    // where ⌈n/256⌉ happens to equal a pinned constant
    "q_ann_ivf_auto" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.ivfTopK(emb, emb.filter(col("vec_id") < 5),
        Ann.autoCellCount(emb.count(), 256), 4, 10)
        .select("query_id", "neighbor_id", "rnk", "cos_sim")
    }),
    // embedding normalization (unit vectors + norm)
    "q_embed_norm" -> ((s, dir) =>
      Tables.embeddings(s, dir).select(
        col("vec_id"),
        sqrt(Ann.dot(col("embedding"), col("embedding"))).as("norm"))),
    // per-source/lang corpus quality rollup (source carried through
    // the metric projection — one corpus scan, no join-back)
    "q_quality_by_source" -> ((s, dir) =>
      graft.text.TextOps.quality(Tables.documents(s, dir), keep = Seq("source"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("total_words"),
          sum(col("n_stopwords")).as("total_stopwords"))
        .withColumn("stopword_ratio",
          col("total_stopwords").cast("double") / col("total_words"))),
    // D7: LSH-bucketed ANN pairs — FULL oracle since r11: the
    // hyperplane family is integer-hash-derived and the sign-of-dot
    // folds left-to-right, so DuckDB rebuilds the sign matrix, every
    // bucket id, and every cosine bit-exactly (lshPairsOracle)
    "q_ann_lsh" -> ((s, dir) =>
      Ann.lshPairs(Tables.embeddings(s, dir), 64, 8, 0.3)),
    // D7d: query-time LSH ANN with multiprobe — FULL oracle since
    // r11 (lshTopKOracle): probe masks inlined, ranking replayed
    // with the TopK aggregate's (cos desc, id asc) tie order
    "q_ann_lsh_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.lshTopK(emb, emb.filter(col("vec_id") < 5), 64, 6, 10, hammingProbes = 2)
        .select("query_id", "neighbor_id", "rnk", "cos_sim")
    }),
    // D8: language id
    "q_lang_id" -> ((s, dir) =>
      TextOps.langId(Tables.documents(s, dir))),
    // D9: quality scoring
    "q_text_quality" -> ((s, dir) =>
      TextOps.quality(Tables.documents(s, dir))),
    // D10: token counting
    "q_token_count" -> ((s, dir) =>
      TextOps.tokenCounts(Tables.documents(s, dir))),
    // D13: context-window chunking (sequence prep)
    "q_text_chunk" -> ((s, dir) =>
      TextOps.chunk(Tables.documents(s, dir), 64, 16)),
    // D14: deterministic corpus sampling
    "q_sample_corpus" -> ((s, dir) =>
      TextOps.sampleByKey(Tables.documents(s, dir), "doc_id", 10)
        .select("doc_id", "lang", "source", "n_chars")),
    // D14b: stratified sampling — k docs per source by deterministic
    // multiplicative-hash order, through the bounded-heap aggregate
    "q_sample_stratified" -> ((s, dir) =>
      TextOps.sampleStratified(Tables.documents(s, dir), Seq("source"), "doc_id", 20)),
    // D13b: stream packing into token budgets per source shard
    "q_pack_sequences" -> ((s, dir) =>
      TextOps.pack(Tables.documents(s, dir), Seq("source"), 2048)),
    // D14c: weighted mixture — up-weight src1, drop src2, thin the rest
    "q_sample_weighted" -> ((s, dir) =>
      TextOps.sampleWeighted(Tables.documents(s, dir), "source", "doc_id",
          Map("src1" -> 80, "src2" -> 0), defaultPct = 25)
        .select("doc_id", "source", "n_chars")),
    // D15: PII-ish redaction (scrub pass)
    "q_text_redact" -> ((s, dir) =>
      TextOps.redact(Tables.documents(s, dir))),
    // D11: fingerprint (full oracle: portable mod-p rolling hash)
    "q_fingerprint" -> ((s, dir) =>
      TextOps.fingerprint(Tables.documents(s, dir))),
    // D12: multimodal plumbing — features projected to scalars so the
    // gate can sort/hash them (and oracle them: payload is UTF-8 text,
    // so byte stats == codepoint stats on this ASCII corpus)
    "q_multimodal" -> ((s, dir) =>
      BinaryPipeline.extractFeatures(BinaryPipeline.toMedia(Tables.documents(s, dir)))
        .select(col("doc_id"), col("media_type"), col("n_bytes"),
          element_at(col("features"), 1).as("f_len"),
          element_at(col("features"), 2).as("f_mean"),
          element_at(col("features"), 3).as("f_max"),
          element_at(col("features"), 4).as("f_min"))),
    // D12: real image-header decode — synthesize header-valid
    // PNG/BMP/GIF/JPEG payloads deterministically from doc_id, parse
    // them back through the native image_meta expression; the oracle
    // predicts the decoded metadata arithmetically, so any header
    // offset bug on either side breaks the hash
    "q_image_meta" -> ((s, dir) => {
      val media = Tables.documents(s, dir).select(col("doc_id"),
        graft.functions.ImageFunctions.syntheticImage(
          element_at(lit(Array("png", "bmp", "gif", "jpeg")),
            (col("doc_id") % 4 + 1).cast("int")),
          (col("doc_id") % 32 + 1).cast("int"),
          (col("doc_id") % 24 + 1).cast("int")).as("payload"))
      BinaryPipeline.imageMeta(media)
        .select(col("doc_id"), col("image.format").as("format"),
          col("image.width").as("width"), col("image.height").as("height"),
          col("image.bit_depth").as("bit_depth"), col("image.channels").as("channels"))
    }),
    // B7b: DBL error-log parsing — a deterministic synthetic loader
    // log derived from orders feeds the line-level parser; the oracle
    // replays the identical generation + window parse in SQL
    "q_dbl_errors" -> ((s, dir) => {
      val k = col("o_orderkey")
      val lines = Tables.orders(s, dir)
        .filter(k % 97 === 0)
        .select(
          concat(lit("dbl_"), (k % 2).cast("string"), lit(".log")).as("log_file"),
          when(k % 5 === 0,
              concat(lit("Table PM_SCHEMA.TBL_"), (k % 3).cast("string"), lit("_5M, loading")))
            .when(k % 5 === 1 || k % 5 === 2,
              concat(lit("Record "), k.cast("string"), lit(": bad value in field F"), (k % 7).cast("string")))
            .when(k % 5 === 3,
              concat(lit("ORA-"), (lit(1700) + k % 100).cast("string"), lit(": invalid number")))
            .otherwise(lit("1234 Rows successfully loaded")).as("value"),
          k.as("_ord"))
      Maintenance.parseDblErrorLines(lines)
    }),
    // B5b: retention-rule sweep over the whole rollup cascade — each
    // granularity thins to its suffix rule; every cutoff is a pushed-
    // down predicate over the (already single-scan) cascade
    "q_retention_sweep" -> ((s, dir) => {
      val asOf = java.time.Instant.parse("2024-03-01T00:00:00Z")
      val tables = Rollups.cascade(Tables.events(s, dir)).map { case (sfx, df) =>
        s"rollup_$sfx" -> df.withColumn("datetime",
          timestamp_seconds(col("bucket_start")).cast("timestamp_ntz"))
      }
      Maintenance.retentionSweep(tables, "datetime",
          Maintenance.defaultRetentionDays, asOf)
        .toSeq.sortBy(_._1)
        .map { case (name, df) =>
          df.select(lit(name).as("tbl"), col("bucket_start"),
            col("event_type"), col("n_events"), col("sum_value"))
        }.reduce(_.unionByName(_))
    }),
    // A10: config-compiled run from the native workbook entry point —
    // fixed raw content through the whole parse+transform+route path,
    // so the oracle is the expected table as literal VALUES
    "q_config_run" -> ((s, dir) => configRun(s)),
    // D2d: duplicate-cluster ids — connected components over the
    // (already oracle-matched) n-gram Jaccard pair graph; the oracle
    // replays reachability with a recursive CTE
    "q_dedup_groups" -> ((s, dir) =>
      Dedup.components(Dedup.ngramJaccardPairs(Tables.documents(s, dir), 3, 0.8))),
    // D9c: Gopher-style repetition/boilerplate metrics + keep verdict
    "q_quality_repetition" -> ((s, dir) =>
      TextOps.repetition(Tables.documents(s, dir))),
    // D10b: corpus vocabulary top-k (explode → partial agg → bounded
    // heap TakeOrdered; deterministic tie-break)
    "q_vocab_topk" -> ((s, dir) =>
      TextOps.vocab(Tables.documents(s, dir), 50)),
    // D16: test-set decontamination — 5-gram overlap of the training
    // split against a deterministic benchmark split of the corpus
    "q_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isBench = pmod(col("doc_id"), lit(97)) === 3
      TextOps.decontaminate(docs.filter(!isBench), docs.filter(isBench), 5)
    }),
    // D9d: percentile corpus filter — keep docs at/above the global
    // median word count (exact percentile; approx at 100 TB)
    "q_quality_filter" -> ((s, dir) =>
      TextOps.qualityFilter(Tables.documents(s, dir), 0.5)),
    // A11: semi-structured JSON profiling over the props payload
    "q_json_extract" -> ((s, dir) =>
      Analytics.jsonProfile(Tables.events(s, dir), "k")),
    // B10: SCD2 dimension intervals from the change-event stream
    // (ntz casts: the driver compares naive timestamps)
    "q_scd2" -> ((s, dir) =>
      graft.operators.Scd.scd2(Tables.events(s, dir),
          "user_id", "event_type", "ts", "event_id")
        .withColumn("valid_from", col("valid_from").cast("timestamp_ntz"))
        .withColumn("valid_to", col("valid_to").cast("timestamp_ntz"))),
    // B10b: point-in-time SCD2 lookup — each purchase annotated with
    // the user's signup/error state version valid at purchase time
    "q_point_in_time" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val dim = graft.operators.Scd.scd2(
        ev.filter(col("event_type").isin("signup", "error")),
        "user_id", "event_type", "ts", "event_id")
      val facts = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      graft.operators.Scd.pointInTimeJoin(facts, dim, "user_id", "ts",
          Seq("event_type", "version"))
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
    }),
    // D18: BM25 keyword search, top-20 with doc_id tie-break
    "q_bm25_search" -> ((s, dir) =>
      graft.text.Search.bm25(Tables.documents(s, dir),
        Seq("spark", "join", "window"), 20)),
    // D18b: inverted-index build — per-term df + capped head postings
    "q_inverted_index" -> ((s, dir) =>
      graft.text.Search.invertedIndex(Tables.documents(s, dir), 5)),
    // D13c: length-bucketed batching stats (padding-efficiency report)
    "q_length_buckets" -> ((s, dir) =>
      TextOps.lengthBuckets(Tables.documents(s, dir), 16)),
    // D14d: token-budget mixture plan (per-source sampling table)
    "q_mixture_plan" -> ((s, dir) =>
      TextOps.mixturePlan(Tables.documents(s, dir), 100000L)),
    // D42: SemDeDup semantic dedup — IVF cells bound the pairwise
    // space; planted duplicate copies (+100000 ids, cos = 1) must all
    // flag is_dup, natural pairs >= 0.8 flag within their cell only
    "q_dedup_semantic" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val corpus = base.unionByName(base.select(
        (col("vec_id") + 100000).as("vec_id"), col("embedding")))
      Ann.semanticDedup(corpus, Ann.fitIvf(corpus, 16), 0.8)
    }),
    // D42-auto: SemDeDup at the scale config — fitIvfAuto keeps mean
    // cell occupancy ≈256 so the within-cell Σ|cell|² pairwise stage
    // is linear in corpus size (fixed 16 cells is quadratic — the
    // 100× soak's spill-death for this query); oracle recomputes
    // ⌈n/256⌉ from COUNT(*) so the grade holds at any SF
    "q_dedup_semantic_auto" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val corpus = base.unionByName(base.select(
        (col("vec_id") + 100000).as("vec_id"), col("embedding")))
      Ann.semanticDedup(corpus, Ann.fitIvfAuto(corpus), 0.8)
    }),
    // D45: cell-balanced diversity sampling — 4 vectors per IVF cell
    // by deterministic hash order (coreset over embedding space)
    "q_sample_diverse" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.sampleDiverse(emb, Ann.fitIvf(emb, 16), 4)
    }),
    // D43: deterministic hash-based train/val/test split (80/10/10)
    "q_split_assign" -> ((s, dir) =>
      TextOps.splitAssign(Tables.documents(s, dir), "doc_id", 80, 10)),
    // D93: leakage-safe split — assignment hashes the duplicate
    // CLUSTER (n-gram Jaccard components), so near-dups never
    // straddle the train/eval boundary
    "q_split_leakage" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.leakageSafeSplit(docs,
        Dedup.ngramJaccardPairs(docs, 3, 0.8), 80, 10)
    }),
    // D44: epoch-seeded shard shuffle — 2 epochs × 8 shards, window
    // bounded per (epoch, shard), never a global row_number
    "q_shuffle_shards" -> ((s, dir) =>
      TextOps.shuffleShards(Tables.documents(s, dir), "doc_id", 2, 8)),
    // D46: per-doc trigram novelty (fraction of grams with df = 1)
    "q_novelty" -> ((s, dir) =>
      TextOps.novelty(Tables.documents(s, dir), 3)),
    // E35: per-user behavioral feature vector — ONE map-side-combined
    // aggregation, decimal-exact value sums
    "q_user_features" -> ((s, dir) =>
      Analytics.userFeatures(Tables.events(s, dir))),
    // E36: recency-weighted engagement score, half-life 7 days —
    // dyadic integer decay so the sum is bit-exact in any order
    "q_decay_score" -> ((s, dir) =>
      Analytics.decayScore(Tables.events(s, dir), 7)),
    // E37: MAD robust outlier days — median/MAD have a 50% breakdown
    // point, so outage days can't inflate their own threshold
    "q_mad_outliers" -> ((s, dir) =>
      Analytics.madOutliers(Tables.events(s, dir), 3)),
    // E38: week-over-week change report (lag over the dimension-sized
    // weekly table)
    "q_wow_change" -> ((s, dir) =>
      Analytics.periodChange(Tables.events(s, dir))),
    // E6d: Count-Min sketch cascade — per-day user-frequency sketches
    // sum-merge to per-type totals, probed for 5 users (full oracle:
    // DuckDB replays each probed counter cell; cascade bit-identity,
    // overcount bound, and exactness-at-width are spec-pinned)
    "q_cms_counts" -> ((s, dir) => {
      import graft.functions.CmsFunctions._
      val ev = Tables.events(s, dir)
      val daily = ev
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(cmsSketch(col("user_id"), 4, 512).as("sk"))
      val perType = daily.groupBy(col("event_type"))
        .agg(cmsMerge(col("sk")).as("sk"))
      val probes = ev.select(col("user_id")).filter(col("user_id") < 5).distinct()
      perType.crossJoin(broadcast(probes))
        .select(col("event_type"), col("user_id"),
          cmsEstimate(col("sk"), col("user_id")).as("est_events"))
    }),
    // D51: embedding drift between dataset versions — per-label
    // centroid cosine + both populations (current = re-crawl that
    // lost every 7th doc)
    "q_embed_drift" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.embedDrift(emb, emb.filter(col("vec_id") % 7 =!= 0), "label")
    }),
    // E39: BFS blast radius over the co-supplier graph, 3 unrolled
    // rounds from the node % 10 == 0 seed set
    "q_bfs_depth" -> ((s, dir) => {
      val edges = Graph.coSupplierEdges(Tables.lineitem(s, dir), 30L)
      val seeds = edges.select(col("s1").as("node"))
        .unionByName(edges.select(col("s2").as("node")))
        .filter(col("node") % 10 === 0).distinct()
      Graph.bfsDepth(edges, seeds, 3)
    }),
    // E39c: the FIXPOINT form — expansion runs until the frontier
    // empties (complete shortest hop distances from the seed set),
    // graded by a depth-capped recursive CTE + min-depth fold instead
    // of unrolled rounds
    "q_bfs_reach" -> ((s, dir) => {
      val edges = Graph.coSupplierEdges(Tables.lineitem(s, dir), 30L)
      val seeds = edges.select(col("s1").as("node"))
        .unionByName(edges.select(col("s2").as("node")))
        .filter(col("node") % 10 === 0).distinct()
      Graph.bfsDepthUntilDone(edges, seeds, 64)
    }),
    // D14e: temperature-scaled mixture (alpha = 0.5 sampling) with
    // fixed-point integer weights so the normalizer is order-exact
    "q_mixture_temp" -> ((s, dir) =>
      TextOps.mixtureTemperature(Tables.documents(s, dir), 100000L)),
    // D50: hard-negative mining — top-k nearest with a DIFFERENT
    // label; exact brute-force plan with the label guard in the scan
    "q_hard_negatives" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.hardNegatives(emb, emb.filter(col("vec_id") < 5), 10)
        .select("query_id", "neighbor_id", "rnk", "cos_sim")
    }),
    // D48: BPE merge-step pair frequencies (tokenizer training), top
    // 50 through a bounded TakeOrdered — total (n desc, pair) order
    "q_bpe_pairs" -> ((s, dir) =>
      TextOps.bpePairs(Tables.documents(s, dir), 50)),
    // D49: per-source Pearson r between word and char counts from
    // exact BIGINT moments (order-independent, grades bit-exact)
    "q_feature_corr" -> ((s, dir) =>
      TextOps.featureCorr(Tables.documents(s, dir))),
    // D47: weak-supervision labeling — threshold regex rules vote,
    // majority with lexicographic tie-break, abstain-all = unlabeled
    "q_weak_labels" -> ((s, dir) =>
      TextOps.weakLabels(Tables.documents(s, dir), Seq(
        (regexp_count(col("text"), lit("\\bspark\\b")) >= 2, "tech"),
        (regexp_count(col("text"), lit("\\bjoin\\b")) >= 2, "tech"),
        (regexp_count(col("text"), lit("\\bcustomer\\b")) >= 2, "commerce"),
        (regexp_count(col("text"), lit("\\bstream\\b")) >= 1, "streaming")))),
    // D19: per-label embedding centroids (decimal-exact means)
    "q_embed_centroids" -> ((s, dir) =>
      Ann.groupCentroids(Tables.embeddings(s, dir), "label")),
    // E3: the streaming windowed-agg transform (unified API) executed
    // in batch — the identical code the streaming specs drive with a
    // file source; value pre-cast to decimal so the sum is
    // order-independent for the oracle (Rollups parity shape)
    "q_stream_window_agg" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("value", col("value").cast("decimal(18,2)"))
      graft.streaming.EventStream.windowedAgg(ev)
        .select(
          unix_timestamp(col("window.start")).as("bucket_start"),
          col("event_type"), col("n_events"),
          col("sum_value").cast("decimal(18,2)").cast("double").as("sum_value"))
    }),
    // E4: streaming dedup-within-watermark in batch over an
    // at-least-once feed (every third event delivered twice); the
    // post-dedup totals must equal the exactly-once feed's, so a
    // dedup that keeps duplicates (or drops distinct events) breaks
    // the hash
    "q_stream_dedup" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val atLeastOnce = ev.unionAll(ev.filter(col("event_id") % 3 === 0))
      graft.streaming.EventStream.dedupStream(atLeastOnce)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)")
            .cast("double").as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    }),
    // E7: the native session_window aggregation (unified API) in
    // batch — gap-merge semantics graded against the classic islands
    // SQL; session end = last event + gap by session_window's
    // definition, and an event at exactly gap distance starts a NEW
    // session (windows [t, t+gap) merge only on strict overlap)
    "q_session_window" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("value", col("value").cast("decimal(18,2)"))
      graft.streaming.EventStream.sessionWindowAgg(ev, "30 minutes")
        .select(
          unix_micros(col("session_window.start")).as("session_start"),
          unix_micros(col("session_window.end")).as("session_end"),
          col("user_id"), col("n_events"),
          col("sum_value").cast("decimal(18,2)").cast("double").as("sum_value"))
    }),
    // E24: the watermarked stream-stream interval join in batch —
    // click → purchase attribution within 10 minutes, graded against
    // the plain range-join SQL (identical code runs streaming, where
    // the same bounds keep state within-deep per side)
    "q_interval_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.streaming.EventStream.streamIntervalJoin(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"))
        .select(col("user_id"), col("trigger_id"), col("follow_id"),
          col("trigger_ts").cast("timestamp_ntz").as("trigger_ts"),
          col("follow_ts").cast("timestamp_ntz").as("follow_ts"))
    }),
    // E16: per-source heavy hitters through the Misra-Gries
    // aggregate; capacity 256 ≥ the corpus vocabulary, so the
    // sketch is in its exact regime and the plain GROUP BY oracle
    // applies (the approx regime is spec-pinned)
    "q_heavy_hitters" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("source"))
        .agg(graft.functions.FreqFunctions.heavyHitters(col("word"), 256).as("hh"))
        .select(col("source"), explode(col("hh")).as("h"))
        .select(col("source"), col("h.item").as("word"),
          col("h.count").as("n_occurrences"))),
    // E17: z-order key over (user bucket, hour bucket) — the
    // clustering key a 100 TB layout would sort files by
    "q_zorder_key" -> ((s, dir) => {
      val ev = Tables.eventsRaw(s, dir)
      val x = pmod(col("user_id"), lit(4096L))
      val y = pmod(Tables.eventHourBucket(ev), lit(4096L))
      ev.select(col("event_id"), x.as("x"), y.as("y"),
        graft.operators.Layout.zorderKey(x, y).as("zkey"))
    }),
    // E18: bloom-pre-filtered exact semi-join (runtime-filter shape)
    "q_bloom_semijoin" -> ((s, dir) =>
      graft.operators.BloomJoin.bloomSemiJoin(
        Tables.lineitem(s, dir), "l_orderkey",
        Tables.orders(s, dir).filter(col("o_totalprice") > 150000.0),
        "o_orderkey", 1L << 20, 0.01)
        .select(col("l_orderkey"), col("l_linenumber"))),
    // E19: ordered conversion funnel view → click → purchase over the
    // first four days (the full month saturates every user at stage 3)
    "q_funnel" -> ((s, dir) =>
      Analytics.funnel(
        Tables.events(s, dir)
          .filter(col("ts") < to_timestamp(lit("2024-01-05 00:00:00"))),
        Seq("view", "click", "purchase"))),
    // E20: cohort retention triangle (first-day cohorts × day offset)
    "q_cohort_retention" -> ((s, dir) =>
      Analytics.cohortRetention(Tables.events(s, dir))),
    // D33: lexical diversity — type-token ratio + Gini-Simpson
    "q_lexical_diversity" -> ((s, dir) =>
      TextOps.lexicalDiversity(Tables.documents(s, dir))),
    // D32: canonicalization dedup — an uppercased+punctuated copy of
    // every document is planted; canonical grouping must collapse
    // each variant pair to one survivor where byte-exact dedup sees
    // two distinct texts
    "q_dedup_canonical" -> ((s, dir) => {
      val base = Tables.documents(s, dir).select("doc_id", "text")
      val noisy = base.select((col("doc_id") + 1000000).as("doc_id"),
        concat(upper(col("text")), lit(" !!")).as("text"))
      TextOps.canonicalDedup(base.unionByName(noisy))
    }),
    // D31: rarity-weighted near-dup — weighted Jaccard with
    // ⌊N/df⌋ word weights; df-capped postings (the cap is the scale
    // design and part of the similarity's definition)
    "q_dedup_weighted" -> ((s, dir) =>
      Dedup.rarityWeightedPairs(Tables.documents(s, dir), 0.3, 100)),
    // D30: sorted-neighborhood near-dup pairs — order-based blocking
    // (signature sort + 3-neighbor window), the complement of the
    // hash/LSH blocking family
    "q_dedup_sorted" -> ((s, dir) =>
      Dedup.sortedNeighborPairs(Tables.documents(s, dir), 3, 0.7)),
    // D20: boilerplate 6-gram mining across the corpus
    "q_boilerplate" -> ((s, dir) =>
      TextOps.repeatedGrams(Tables.documents(s, dir), 6, 3)),
    // D28: LM-lite fluency — per-doc hit rate against the corpus's
    // frequent-bigram head (df >= 50)
    "q_fluency" -> ((s, dir) =>
      TextOps.bigramFluency(Tables.documents(s, dir), 50)),
    // D29: passage-level dedup — 3-word passages occurring > 2 times
    // corpus-wide are cut and each document rewritten
    "q_passage_dedup" -> ((s, dir) =>
      TextOps.passageDedup(Tables.documents(s, dir), 3, 2)),
    // D23: corpus profile — all CUBE(lang, source) grouping sets in
    // one aggregation pass
    "q_corpus_profile" -> ((s, dir) =>
      Analytics.corpusProfile(Tables.documents(s, dir))),
    // B12: daily trend — 7-day moving sum/avg + day-over-day delta
    "q_daily_trend" -> ((s, dir) =>
      Analytics.dailyTrend(Tables.events(s, dir), 7)),
    // B13: calendar densification — every (type, day) cell of the
    // feed's span as an explicit row, silent days included as zeros
    "q_densify" -> ((s, dir) =>
      Analytics.densifyDaily(Tables.events(s, dir))),
    // B14: trailing 7-CALENDAR-day rolling sum on the sparse daily
    // table (RANGE frame on the day number, not a ROWS frame)
    "q_rolling_range" -> ((s, dir) =>
      Analytics.rollingRangeSum(Tables.events(s, dir), 7)),
    // E23: Markov transition matrix of consecutive event types
    "q_event_transitions" -> ((s, dir) =>
      Analytics.transitionMatrix(Tables.events(s, dir))),
    // B15: per-type OLS volume trend slope — BIGINT moments over
    // centered integer points, the two double divisions last
    "q_trend_slope" -> ((s, dir) =>
      Analytics.trendSlope(Tables.events(s, dir))),
    // B16: CUSUM change-point day per type (integer statistic scaled
    // through n; argmax day, earliest on ties)
    "q_changepoint" -> ((s, dir) =>
      Analytics.changePoint(Tables.events(s, dir))),
    // B17: time-weighted average value per (type, day) — lead-gap
    // holding periods in µs, cents x µs integer sums
    "q_twap" -> ((s, dir) =>
      Analytics.twap(Tables.events(s, dir))),
    // E31: peak concurrent sessions per day — the +1/-1 boundary
    // sweep with a per-day intra window and a dimension-sized carry
    "q_concurrency" -> ((s, dir) =>
      Analytics.sessionConcurrency(
        Analytics.sessionize(Tables.events(s, dir), 1800L))),
    // D37: per-source rank-percentile calibration of length scores
    "q_percent_rank" -> ((s, dir) =>
      TextOps.percentRankBySource(Tables.documents(s, dir))),
    // E30: fixed-point PageRank (3 damped rounds) over the
    // customer—supplier trading graph — BIGINT arithmetic end to
    // end, so the iteration is bit-reproducible across engines
    // long-encoded node ids inside the iteration (string labels
    // restored on the node-sized output — Graph.tradingNodeLabel)
    // edgeBound: every directed trading edge needs >= 1 lineitem row,
    // so 2x the fact's footer row count bounds the symmetrized edge
    // list — proves the session-width layout without materializing
    // and counting the derived edges first (Graph.partitionIterEdges)
    "q_pagerank" -> ((s, dir) =>
      Graph.pageRank(
        Graph.tradingEdgesLong(Tables.lineitem(s, dir), Tables.orders(s, dir)),
        3,
        edgeBound = Some(2L * Tables.rowCount(s, dir, "lineitem")))
        .select(Graph.tradingNodeLabel(col("node")).as("node"), col("rank"))),
    // E32: per-node triangle count + clustering coefficient over the
    // co-supplier graph (>= 30 common orders) — degree-ordered
    // compact-forward, O(m^1.5) wedges, one double division
    "q_triangles" -> ((s, dir) =>
      Graph.triangleStats(
        Graph.coSupplierEdges(Tables.lineitem(s, dir), 30L))),
    // E34: 6-core of the co-supplier graph — 5 synchronous peeling
    // rounds (fixpoint at 4 on this graph, +1 margin spec-proved)
    "q_kcore" -> ((s, dir) =>
      Graph.kCore(
        Graph.coSupplierEdges(Tables.lineitem(s, dir), 30L), 6, 5)),
    // E33: value-distribution drift per event type, first half of the
    // month vs the rest — exact-integer total-variation distance
    "q_drift" -> ((s, dir) =>
      Analytics.histogramDrift(Tables.events(s, dir), 15, 0.0, 0.5, 20)),
    // D39: pairwise cosine between label-group centroids — the
    // source-vs-source embedding-distribution proximity matrix
    "q_source_similarity" -> ((s, dir) =>
      Ann.centroidSimilarity(Tables.embeddings(s, dir), "label")),
    // D41: centroid-outlier mining — the 5 vectors farthest from
    // their own group's centroid (mislabeled/noisy sample screen)
    "q_centroid_outliers" -> ((s, dir) =>
      Ann.centroidOutliers(Tables.embeddings(s, dir), "label", 5)),
    // D40: per-document keyword extraction — top-3 words by the
    // rational tf*N/df weight, deterministic (score desc, word) ranks
    "q_keywords" -> ((s, dir) =>
      TextOps.keywords(Tables.documents(s, dir), 3)),
    // E25: rolling active users (DAU / trailing-7-day WAU)
    "q_active_users" -> ((s, dir) =>
      Analytics.rollingActiveUsers(Tables.events(s, dir), 7)),
    // E26: share-of-total contribution per (day, event type)
    "q_contribution" -> ((s, dir) =>
      Analytics.contribution(Tables.events(s, dir))),
    // E27: Pareto / ABC classification of event types by value
    "q_pareto" -> ((s, dir) =>
      Analytics.paretoClasses(Tables.events(s, dir))),
    // D25: cross-source 8-gram overlap (contamination matrix)
    "q_source_overlap" -> ((s, dir) =>
      TextOps.sourceGramOverlap(Tables.documents(s, dir), 8)),
    // D27: corpus snapshot diff — added/removed/changed/unchanged
    // between two dataset versions (delta simulated by doc_id mod)
    "q_corpus_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val kept = docs.filter(col("doc_id") % 97 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 101 === 0, concat(col("text"), lit(" [v2]")))
            .otherwise(col("text")))
      val added = docs.filter(col("doc_id") % 103 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(lit("new "), col("text")).as("text"))
      Reconcile.snapshotDiff(docs, kept.unionByName(added), "doc_id", Seq("text"))
    }),
    // B11: volume-anomaly days (count vs per-type daily median, ±25%)
    "q_anomaly_days" -> ((s, dir) =>
      Analytics.anomalousDays(Tables.events(s, dir), 5, 4)),
    // C9: row-level upsert — corrections replace their keys
    "q_upsert" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val base = ev.select("event_id", "user_id", "event_type", "value")
      val incoming = ev
        .filter(col("ts") >= to_timestamp(lit("2024-01-20 00:00:00")))
        .withColumn("value", col("value") * 2)
        .select("event_id", "user_id", "event_type", "value")
      Maintenance.upsert(base, incoming, Seq("event_id"))
    }),
    // D22: incremental near-dup screening — the odd-id half arrives
    // as a delivery batch and probes the even-id corpus's band index;
    // band recall is 1.0 at θ=0.8 (spec-pinned), so the exact
    // cross-split Jaccard oracle applies
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isNew = pmod(col("doc_id"), lit(2)) === 1
      Dedup.incrementalMinhashDups(
        docs.filter(!isNew), docs.filter(isNew), 3, 0.8, 128, 32)
    }),
    // D21: the full curation flow — language gate, quality gate,
    // exact dedup, redaction — as one plan
    "q_curate" -> ((s, dir) =>
      graft.text.Curate.curate(Tables.documents(s, dir),
        Seq("en", "es", "de"), 25, 0.6)),
    // E5b: salted equi-join — identical rows to the plain join, with
    // the large side spread over 8 sub-keys per part key
    "q_skew_join" -> ((s, dir) =>
      graft.operators.Skew.saltedJoin(
        Tables.lineitem(s, dir).select("l_orderkey", "l_linenumber", "l_partkey"),
        Tables.part(s, dir).select(col("p_partkey").as("l_partkey"), col("p_brand")),
        "l_partkey", 8)),
    // E21: multi-join revenue rollup — the classic fact×dims shape:
    // fact-fact shuffle join on the order key, dimensions broadcast
    "q_revenue_by_nation" -> ((s, dir) => {
      def dec2(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")
      val rev = dec2(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,2)") - dec2(col("l_discount")))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("order_year"))
        // keep the product's native scale-4 decimal: rescaling to 2dp
        // would tie-break .xx5 half-up here but half-even in DuckDB
        .agg(
          // one exact decimal(38,4) → double conversion at the end
          // (scale-4 integers < 2^53: correctly rounded both engines)
          sum(rev).cast("decimal(38,4)").cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),
    // D52: exact Mann-Whitney AUC per source — does length predict
    // English? (the filter-evaluation shape; doubled midranks keep
    // tie handling integral, one IEEE division at the end)
    "q_auc" -> ((s, dir) =>
      graft.text.Evaluate.aucByGroup(Tables.documents(s, dir),
        col("n_chars"), (col("lang") === "en").cast("int"), col("source"))),
    // D53: calibration bins — integer milli-probability score
    // (n_chars/2 capped at 1000) vs the lang=en label, 10 bins
    "q_calibration" -> ((s, dir) =>
      graft.text.Evaluate.calibrationBins(Tables.documents(s, dir),
        least(floor(col("n_chars") / 2), lit(1000L)),
        (col("lang") === "en").cast("int"), 10)),
    // D54: Cohen's kappa between two heuristic labelers (different
    // keyword rule sets over the same documents)
    "q_kappa" -> ((s, dir) => {
      val t = col("text")
      val a = when(regexp_count(t, lit("\\bcustomer\\b")) > 0, "commerce")
        .when(regexp_count(t, lit("\\bspark\\b")) > 0, "tech")
        .otherwise("other")
      val b = when(regexp_count(t, lit("\\border\\b")) > 0, "commerce")
        .when(regexp_count(t, lit("\\bstream\\b")) > 0, "tech")
        .otherwise("other")
      graft.text.Evaluate.cohenKappa(Tables.documents(s, dir), a, b)
    }),
    // E40: RFM customer segmentation over orders, 5 tiers per axis
    "q_rfm" -> ((s, dir) =>
      graft.operators.Analytics.rfmSegments(Tables.orders(s, dir), 5)),
    // E41: market-basket association rules over order baskets,
    // min support 3 baskets
    "q_basket_lift" -> ((s, dir) =>
      graft.operators.Analytics.basketLift(Tables.lineitem(s, dir), 3)),
    // D55: exact covariance matrix of the quantized corpus — one scan
    // through the VecMoments kernel, one ~d²/2-long buffer per task
    "q_embed_cov" -> ((s, dir) =>
      Ann.embedCovariance(Tables.embeddings(s, dir))),
    // D94: dominant principal component by 8-round power iteration on
    // the exact covariance — every float op ordered left-to-right, so
    // the oracle replays it bit-exactly with list_dot_product
    "q_top_eigen" -> ((s, dir) =>
      Ann.dominantEigen(Tables.embeddings(s, dir), 8)),
    // D56: deterministic ±1 random projection to 16 dims (long-form
    // for grading; integer end-to-end)
    "q_rand_proj" -> ((s, dir) =>
      Ann.randomProjection(Tables.embeddings(s, dir), 16)),
    // B18: two-threshold alarm state machine over daily volumes —
    // ON above 1.2× average, OFF below 0.8×, hold in the dead band
    "q_alarm_hysteresis" -> ((s, dir) =>
      graft.operators.Kpi.alarmHysteresis(Tables.events(s, dir))),
    // E43: 2-round synchronous label propagation over the co-supplier
    // graph (deterministic majority, min-label tie-break)
    "q_label_prop" -> ((s, dir) =>
      Graph.labelPropagation(
        Graph.coSupplierEdges(Tables.lineitem(s, dir), 30L), 2)),
    // E44: top-20 behavioral trigram paths over per-user sequences
    "q_event_paths" -> ((s, dir) =>
      Analytics.eventPaths(Tables.events(s, dir), 20)),
    // B19: gaps-and-islands outage report — the deterministic
    // day-of-month thinning plants real multi-day gaps in the feed
    "q_data_gaps" -> ((s, dir) =>
      Analytics.dataGaps(
        Tables.events(s, dir).filter(dayofmonth(col("ts")) % 5 =!= 0))),
    // D57: recall@10 of the int8-quantized ANN vs the exact float
    // top-k — the QA gate before switching to the cheaper scorer
    "q_ann_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.annRecall(emb, emb.filter(col("vec_id") < 5), 10)
    }),
    // E45: first-view → first-purchase delay summary (exact µs
    // percentiles, B9 parity)
    "q_time_to_convert" -> ((s, dir) =>
      Analytics.timeToConvert(Tables.events(s, dir), "view", "purchase")),
    // E46: adoption curve — per-day new users + running total
    "q_adoption" -> ((s, dir) =>
      Analytics.adoptionCurve(Tables.events(s, dir))),
    // B20: feed-staleness report; the deterministic late-month error
    // blackout plants a genuinely stale family
    "q_staleness" -> ((s, dir) =>
      graft.operators.Maintenance.feedStaleness(
        Tables.events(s, dir).filter(
          !(col("event_type") === "error" && dayofmonth(col("ts")) > 20)))),
    // B21: busy hour per family — the telecom dimensioning KPI
    "q_busy_hour" -> ((s, dir) =>
      graft.operators.Kpi.busyHour(Tables.events(s, dir))),
    // B22: day-of-week traffic profile (0 = Sunday) — the seasonality
    // baseline volume monitors subtract before alarming
    "q_dow_profile" -> ((s, dir) =>
      graft.operators.Kpi.dowProfile(Tables.events(s, dir))),
    // E47: degree distribution of the co-supplier graph
    "q_degree_dist" -> ((s, dir) =>
      Graph.degreeDistribution(
        Graph.coSupplierEdges(Tables.lineitem(s, dir), 30L))),
    // D58: blocking-recall QA — banded MinHash candidates vs the
    // exact n-gram pair set (the dedup twin of q_ann_recall)
    "q_dedup_recall" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.blockingRecall(
        Dedup.ngramJaccardPairs(docs, 3, 0.8),
        Dedup.minhashNearDupPairs(docs, 3, 0.8, 128, 32))
    }),
    // E48: seasonal-naive weekly backtest — forecast(type, day) =
    // actual(type, day-7); the baseline every forecaster must beat
    "q_forecast_baseline" -> ((s, dir) =>
      Analytics.seasonalNaive(Tables.events(s, dir))),
    // E49: weekly growth accounting — active split into retained /
    // new / resurrected, plus churn vs the previous week
    "q_growth_accounting" -> ((s, dir) =>
      Analytics.growthAccounting(Tables.events(s, dir))),
    // D59: cross-source quantile normalization of length scores —
    // pooled score at the same within-source quantile, pure integers
    "q_quantile_norm" -> ((s, dir) =>
      TextOps.quantileNormalize(Tables.documents(s, dir))),
    // D60: edit-distance near-dup pairs — (token-prefix, length band)
    // blocking sized from the corpus + threshold-bounded Levenshtein
    // verify (picks a 1-token key at the graded scale)
    "q_dedup_edit" -> ((s, dir) =>
      Dedup.editDistancePairsAuto(Tables.documents(s, dir), 20, 32)),
    // E50: personalized PageRank (3 damped rounds) from the
    // custkey%100=0 seed customers over the trading graph
    "q_pagerank_seeded" -> ((s, dir) =>
      Graph.personalizedPageRank(
        Graph.tradingEdgesLong(Tables.lineitem(s, dir), Tables.orders(s, dir)),
        Tables.orders(s, dir).filter(col("o_custkey") % 100 === 0)
          .select((col("o_custkey").cast("long") * 2).as("node")),
        3,
        edgeBound = Some(2L * Tables.rowCount(s, dir, "lineitem")))
        .select(Graph.tradingNodeLabel(col("node")).as("node"), col("rank"))),
    // D61: Heaps-law vocabulary growth — cumulative distinct word
    // trigrams per 50-document ingestion-order prefix
    "q_vocab_growth" -> ((s, dir) =>
      TextOps.vocabGrowth(Tables.documents(s, dir), 3, 50)),
    // C11: order-insensitive per-day checksum — the O(rows)
    // cross-system compare that escalates to C2 only on mismatch
    "q_table_checksum" -> ((s, dir) =>
      Reconcile.bucketChecksums(Tables.events(s, dir))),
    // E52: per-user peak sliding-24h event count (rate-limit audit)
    "q_burst_users" -> ((s, dir) =>
      Analytics.burstDetect(Tables.events(s, dir), 86400000000L)),
    // D62: cross-source near-dup leakage matrix over the verified
    // 3-gram Jaccard pairs
    "q_dup_matrix" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.crossSourceMatrix(docs, Dedup.ngramJaccardPairs(docs, 3, 0.8))
    }),
    // E53: order-to-ship lag percentiles per priority (SLA report)
    "q_ship_lag" -> ((s, dir) =>
      Analytics.shipLag(Tables.lineitem(s, dir), Tables.orders(s, dir))),
    // E54: per-day session quality rollup over the 30-min sessions
    "q_session_stats" -> ((s, dir) =>
      Analytics.sessionStats(
        Analytics.sessionize(Tables.events(s, dir), 1800L))),
    // B23: compaction planner — per-day size estimate + file count at
    // a 64 KiB target (exercises multi-file splits at test SF; the
    // production default is 128 MiB, same arithmetic)
    "q_compaction_plan" -> ((s, dir) =>
      graft.operators.Layout.compactionPlan(Tables.events(s, dir), 65536L)),
    // E9c: nearest as-of — each purchase aligned to the user's
    // closest error either direction, backward winning ties
    "q_asof_nearest" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id").as("err_id"),
          col("value").as("err_value"))
      graft.operators.AsOf.asofJoinNearest(purchases, errors, "user_id", "ts",
          Seq("err_id", "err_value"), "err_id")
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
    }),
    // E55: 2-D Pareto frontier of parts (cheapest for their size)
    "q_skyline" -> ((s, dir) =>
      Analytics.skyline(Tables.part(s, dir))),
    // E56: open-order backlog curve (sweep-line over the warehouse)
    "q_backlog" -> ((s, dir) =>
      Analytics.orderBacklog(Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // D63: one-row dataset release card (counts, tokens, dup rate)
    "q_dataset_card" -> ((s, dir) =>
      TextOps.datasetCard(Tables.documents(s, dir))),
    // E57: purchase-value quintile mobility matrix across the
    // mid-month split
    "q_decile_transition" -> ((s, dir) =>
      Analytics.decileTransition(Tables.events(s, dir),
        "2024-01-16 00:00:00", 5)),
    // D64: dedup threshold sensitivity ladder from one verify pass
    "q_dedup_sweep" -> ((s, dir) =>
      Dedup.thresholdSweep(Tables.documents(s, dir), 3,
        Seq(0.5, 0.6, 0.7, 0.8, 0.9))),
    // D65: tokenizer fertility per (lang, source) — BPE-ish tokens
    // per whitespace word, the sequence-length cost report
    "q_fertility" -> ((s, dir) =>
      TextOps.fertilityReport(Tables.documents(s, dir))),
    // D66: duplicate-cluster size histogram over the D2d components
    "q_dup_cluster_sizes" -> ((s, dir) =>
      Dedup.clusterSizeHistogram(
        Dedup.components(
          Dedup.ngramJaccardPairs(Tables.documents(s, dir), 3, 0.8)))),
    // E19b: view→click→purchase funnel with a 1-hour step horizon —
    // the time-bounded form product analytics actually reports
    "q_funnel_windowed" -> ((s, dir) =>
      Analytics.funnelWindowed(
        Tables.events(s, dir)
          .filter(col("ts") < to_timestamp(lit("2024-01-05 00:00:00"))),
        Seq("view", "click", "purchase"), 3600L)),
    // B15b: Theil-Sen robust trend slope (median of pairwise slopes)
    "q_theil_sen" -> ((s, dir) =>
      Analytics.theilSenSlope(Tables.events(s, dir))),
    // E58: exact Gini concentration of per-user activity
    "q_gini" -> ((s, dir) =>
      Analytics.giniConcentration(Tables.events(s, dir))),
    // D8b: language-ID confusion matrix — the heuristic's QA gate
    "q_lang_confusion" -> ((s, dir) =>
      TextOps.langConfusion(Tables.documents(s, dir))),
    // E59: portable mod-bucket skew report over the shuffle key
    "q_partition_skew" -> ((s, dir) =>
      graft.operators.Layout.partitionSkew(
        Tables.events(s, dir), col("user_id"), 32)),
    // B24: delta-encoding advisor — raw vs varint bytes for the
    // (user, ts)-sorted feed, sized exactly without writing a byte
    "q_delta_encode" -> ((s, dir) =>
      graft.operators.Layout.deltaEncodingAdvisor(Tables.events(s, dir))),
    // B25: per-(type, day) p10/p50/p90 value bands (SLA band chart)
    "q_quantile_bands" -> ((s, dir) =>
      graft.operators.Kpi.dailyBands(Tables.events(s, dir))),
    // E60: daily activity split by first-seen-day actors vs returners
    "q_new_vs_returning" -> ((s, dir) =>
      Analytics.newVsReturning(Tables.events(s, dir))),
    // D67: embedding-norm QA gate per label
    "q_emb_norm_stats" -> ((s, dir) =>
      Ann.normStats(Tables.embeddings(s, dir))),
    // D68: NN-Descent kNN graph (index-free at-scale path; rows-only
    // by design like the IVF scorer — recall spec-pinned vs exact)
    "q_knn_descent" -> ((s, dir) =>
      Ann.knnGraphDescent(Tables.embeddings(s, dir), 10, 2)),
    // D69: winnowing (MOSS) fingerprint near-dup pairs — guaranteed
    // local-match coverage at ~1/window the posting volume
    "q_dedup_winnow" -> ((s, dir) =>
      Dedup.winnowedPairs(Tables.documents(s, dir), 4, 5)),
    // E61: HITS hubs/authorities (2 fixed integer rounds) over the
    // directed customer->supplier trading graph
    "q_hits" -> ((s, dir) =>
      Graph.hits(
        Graph.tradingEdgesLongDirected(
          Tables.lineitem(s, dir), Tables.orders(s, dir)), 2,
        edgeBound = Some(Tables.rowCount(s, dir, "lineitem")))
        .select(Graph.tradingNodeLabel(col("node")).as("node"),
          col("hub"), col("authority"))),
    // B18b: the hysteresis alarm as keyed streaming state (one
    // latched boolean per family), absolute 73/60 thresholds
    "q_stream_alarm" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"))
      graft.streaming.EventStream.alarmStream(daily, 73L, 60L)
    }),
    // E62: fixed-round Markov stationary mass over the event-type
    // transition matrix — where activity settles under the observed
    // transition frequencies (BIGINT fixed-point, pagerank family)
    "q_markov_stationary" -> ((s, dir) =>
      Graph.markovStationary(
        Analytics.transitionMatrix(Tables.events(s, dir)), 3)),
    // B26: winsorized daily mean — per-type global p05/p95 clip band
    // (pass 1, |types| rows, broadcast) over a map-side-combined
    // daily cents mean (pass 2)
    "q_winsorized" -> ((s, dir) =>
      graft.operators.Kpi.winsorizedDailyMean(Tables.events(s, dir))),
    // A12: fixed-width positional source — render orders into a
    // fixed-width layout, parse it back by substring slicing (the
    // oracle independently renders AND parses the same layout), then
    // roll up the parsed fields
    "q_fixed_width" -> ((s, dir) => {
      val lines = Tables.orders(s, dir).select(
        concat(
          lpad(col("o_orderkey").cast("string"), 12, "0"),
          col("o_orderstatus"),
          lpad(floor(col("o_totalprice") * 100.0 + 0.5).cast("long")
            .cast("string"), 15, "0"),
          rpad(col("o_orderpriority"), 16, " ")).as("value"))
        .withColumn("_file", lit("orders.fw"))
      ChillPipeline.sliceFixedWidth(lines, Seq(
          ChillPipeline.FixedWidthCol("order_key", 1, 12),
          ChillPipeline.FixedWidthCol("status", 13, 1),
          ChillPipeline.FixedWidthCol("cents", 14, 15),
          ChillPipeline.FixedWidthCol("priority", 29, 16)),
        0, 0, Set.empty)
        .groupBy(col("status"), col("priority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents").cast("long")).as("sum_cents"))
    }),
    // D70: per-source Flesch readability bands (vowel-run syllable
    // proxy; fixed-order double arithmetic, deterministic banding)
    "q_readability" -> ((s, dir) =>
      TextOps.readabilityBands(Tables.documents(s, dir))),
    // D71: encoding-artifact QA — mojibake markers, U+FFFD, control
    // chars; corruption injected deterministically (doc_id mod), the
    // q_corpus_diff pattern, so the detector has something to find
    "q_encoding_qa" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(
        col("doc_id"), col("source"),
        when(col("doc_id") % 13 === 0, expr("replace(text, 'a ', 'Ã¡ ')"))
          .when(col("doc_id") % 17 === 0, concat(col("text"), lit(" �")))
          .otherwise(col("text")).as("text"))
      TextOps.encodingQa(docs)
    }),
    // B27: capacity forecast — days until the fitted OLS volume line
    // crosses 2x today's peak day, all-BIGINT (-1 = never on this fit)
    "q_capacity_forecast" -> ((s, dir) =>
      Analytics.capacityForecast(Tables.events(s, dir), 2L, 1L)),
    // D73: bottom-k minwise vocabulary sketches → pairwise source
    // Jaccard estimates at k-longs-per-source cost (D25's question
    // at sketch cost; portable gram hashes, bounded-heap bottom-k)
    "q_vocab_jaccard" -> ((s, dir) =>
      TextOps.vocabJaccardSketch(Tables.documents(s, dir), 32)),
    // B28: day-of-week-adjusted volume anomalies — per-(type, dow)
    // median baseline, MAD threshold, integer cross-multiplied flag
    "q_dow_anomalies" -> ((s, dir) =>
      Analytics.dowAdjustedAnomalies(Tables.events(s, dir), 3L, 1L)),
    // C11: column-statistics drift between two snapshots — one
    // tableProfile scan per side, broadcast diff of |cols|-row
    // reports; perturbation injected deterministically (mod ladder)
    "q_profile_diff" -> ((s, dir) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority")
      val l = Tables.orders(s, dir)
      val r = l.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 101 === 0, lit(null).cast("string"))
            .otherwise(col("o_orderstatus")))
      Reconcile.profileDiff(l, r, cols)
    }),
    // E63: daily trending top-10 actors with day-over-day rank moves
    // (bounded-heap per day; yesterday's board re-joins by date shift)
    "q_trending" -> ((s, dir) =>
      Analytics.trendingTopK(Tables.events(s, dir), 10)),
    // A13: quoted-CSV (RFC 4180) source — embedded delimiters and
    // doubled-quote escapes round-trip through render → parse; the
    // oracle computes the expected rollup directly from the columns,
    // so any parse defect breaks the hash
    "q_csv_quoted" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val payload = concat(col("o_orderstatus"), lit(","),
        col("o_orderpriority"),
        when(col("o_orderkey") % 19 === 0, lit("\"x")).otherwise(lit("")))
      val lines = o.select(concat(
        col("o_orderkey").cast("string"), lit(","),
        lit("\""), regexp_replace(payload, "\"", "\"\""), lit("\","),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long")
          .cast("string")).as("value"))
        .withColumn("_file", lit("orders.csv"))
      ChillPipeline.sliceCsvQuoted(lines,
          Seq("order_key", "payload", "cents"), 0, 0, Set.empty)
        .groupBy(col("payload"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents").cast("long")).as("sum_cents"))
    }),
    // D74: term-frequency cosine pairs (vector-space classic) with
    // the df-capped exact definition, over bigram terms
    "q_tf_cosine" -> ((s, dir) =>
      Dedup.tfCosinePairs(Tables.documents(s, dir), 0.5, 100, 2)),
    // A14: JSON-lines source — schema-on-read round-trip (fields
    // absent from a line surface as NULL and are counted); oracle
    // computes the expected rollup directly from the columns
    "q_jsonl" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      def obj(withPr: Boolean) = to_json(struct(
        (Seq(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
          floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents")) ++
          (if (withPr) Seq(col("o_orderpriority").as("pr")) else Nil)): _*))
      val lines = o.select(
        when(col("o_orderkey") % 23 === 0, obj(withPr = false))
          .otherwise(obj(withPr = true)).as("value"))
        .withColumn("_file", lit("orders.jsonl"))
      val schema = org.apache.spark.sql.types.StructType
        .fromDDL("k BIGINT, st STRING, cents BIGINT, pr STRING")
      ChillPipeline.sliceJsonLines(lines, schema)
        .groupBy(col("st"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents")).as("sum_cents"),
          sum(when(col("pr").isNull, 1L).otherwise(0L))
            .as("n_missing_priority"))
    }),
    // B32: cumulative-counter deltas with reset detection — the
    // PM-counter semantics under the reference's feeds (negative
    // jump = restart; post-reset reading is the delta)
    "q_counter_deltas" -> ((s, dir) =>
      Rollups.counterDeltas(Tables.events(s, dir))),
    // B32b: the same delta machine as keyed streaming state (unified
    // batch form graded against the SAME oracle as the window form)
    "q_stream_counter_deltas" -> ((s, dir) => {
      val readings = Tables.events(s, dir).select(
        col("event_type"), col("user_id"), col("ts"), col("event_id"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      graft.streaming.EventStream.counterDeltaStream(readings)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_samples"),
          sum(col("delta_cents")).as("delta_cents"),
          sum(col("is_reset")).as("n_resets"))
    }),
    // E21b (TPC-H Q6 shape): revenue effect of a discount band —
    // tight scan-stage filter, decimal-exact one-row answer
    "q_tpch_q6" -> ((s, dir) => {
      def dec2(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")
      Tables.lineitem(s, dir)
        .filter(to_date(col("l_shipdate")) >= lit("1997-01-01") &&
          to_date(col("l_shipdate")) < lit("1998-01-01") &&
          col("l_discount") >= 0.03 && col("l_discount") <= 0.05 &&
          col("l_quantity") < 24)
        .agg(sum(dec2(col("l_extendedprice")) * dec2(col("l_discount")))
          .cast("decimal(38,4)").cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),
    // E21c (TPC-H Q3 shape): top-10 open revenue in a market segment
    // — TakeOrderedAndProject bounded heap, never a full sort
    "q_tpch_q3" -> ((s, dir) => {
      def dec2(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")
      val rev = dec2(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,2)") - dec2(col("l_discount")))
      Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .filter(to_date(col("o_orderdate")) < lit("1999-06-30"))
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .filter(to_date(col("l_shipdate")) > lit("1999-06-30"))
        .groupBy(col("l_orderkey"),
          to_date(col("o_orderdate")).as("o_orderdate"))
        .agg(sum(rev).cast("decimal(38,4)").cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),
    // E21d (TPC-H Q4 shape): order-priority check via EXISTS — a
    // left-semi join (one pass over lineitem, no fact duplication)
    "q_tpch_q4" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val late = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
      o.join(late,
          col("o_orderkey") === col("l_orderkey") &&
            col("sd") > date_add(to_date(col("o_orderdate")), 60),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    }),
    // B33: zone-map skipping advisor — is a re-sort worth it? The
    // user_id layout skips almost everything for user probes, the
    // time layout almost nothing (both graded)
    "q_zonemap" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val probes = Seq(5L, 50L, 500L)
      graft.operators.Layout
        .zoneMapAdvisor(ev, Seq("user_id", "event_id"), "user_id",
          4096, probes, "by_user")
        .unionByName(graft.operators.Layout
          .zoneMapAdvisor(ev, Seq("ts", "event_id"), "user_id",
            4096, probes, "by_time"))
    }),
    // D78: BPE tokenizer training — 8 merge rounds over the
    // vocabulary-sized (word, count) state. FULL oracle since r8: the
    // fixed round count unrolls into chained CTEs, and the lookaround
    // rewrite replays in RE2-land via the double-space padding
    // identity (see the oracle entry); the classic hand example stays
    // spec-pinned besides
    "q_bpe_train" -> ((s, dir) => {
      import s.implicits._
      TextOps.bpeTrain(Tables.documents(s, dir), BpeMerges)
        .toDF("rank", "left", "right", "pair_count")
    }),
    // D78b: encode the corpus with the learned merges — the
    // fertility-vs-merges number a tokenizer evaluation tracks (full
    // oracle since r8, same unrolled-merge replay)
    "q_bpe_encode" -> ((s, dir) => {
      val merges = TextOps.bpeTrain(Tables.documents(s, dir), BpeMerges)
      TextOps.bpeEncode(Tables.documents(s, dir), merges)
    }),
    // D77: modality-blind exact binary dedup by content digest —
    // a deterministic doc_id-mod subset is re-delivered under fresh
    // ids (the q_corpus_diff pattern) so duplicated bytes exist
    "q_binary_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val redelivered = docs.filter(col("doc_id") % 50 === 3)
        .withColumn("doc_id", col("doc_id") + 10000000L)
      BinaryPipeline.binaryDedup(
        BinaryPipeline.toMedia(docs.unionByName(redelivered)))
    }),
    // E64: interval-union covered days per customer (gaps-and-islands
    // carry-max over order spans)
    "q_interval_coverage" -> ((s, dir) =>
      Analytics.intervalCoverage(
        Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // D72: product-quantization ANN — PQ codes + ADC top-k (rows-only
    // by design like the other sketch searches; recall + compression
    // are spec-pinned against the exact scan)
    "q_ann_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = Ann.fitPq(emb, 8, 16, 2)
      Ann.pqSearch(model, Ann.pqEncode(emb, model),
        emb.filter(col("vec_id") < 5), 10)
    })
  )

  /** The queries Verify dumps with no oracle, each with the reason its
    * result cannot be replayed exactly: every other query in [[queries]]
    * has an entry in [[oracleSql]].
    */
  val rowsOnly: Map[String, String] = Map(
    "q_ann_pq" -> "PQ codes + ADC top-k are approximate by design; recall and compression are spec-pinned against the exact scan",
    "q_knn_descent" -> "NN-Descent is approximate by design; recall is spec-pinned against the exact kNN graph",
    "q_knn_graph_ivf" -> "adaptive-cell IVF probe is approximate by design; recall is spec-pinned against the exact kNN graph",
    "q_kpi_percentiles_approx" -> "sketch percentiles have no SQL replay; the error bound is spec-tested against the exact values",
    "q_neighborhood" -> "HyperBall's HLL registers have no SQL replay; the accuracy envelope is spec-pinned against exact BFS",
    "q_rollup_approx" -> "approx_count_distinct's HLL++ has no SQL replay; its bounds are spec-tested")

  /** q_config_run body: compile the checked-in Chill+HLD workbooks
    * (the reference's own entry-point format) and run the routed
    * pipeline over a two-file raw feed with fixed contents.
    */
  /** Shared CDC fixture: orders as the base table plus a mod-derived
    * change stream (U at seq 1, overriding U at seq 2, D at seq 3,
    * I at seq 1 on fresh keys) — q_cdc_apply applies all of it,
    * q_snapshot_at reconstructs the state as of seq 2.
    */
  private def cdcFixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = Tables.orders(s, dir).select(
      col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
      floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
    def ch(cond: org.apache.spark.sql.Column, op: String, seq: Int,
           st: org.apache.spark.sql.Column,
           keyExpr: org.apache.spark.sql.Column) =
      base.filter(cond).select(keyExpr.as("k"), st.as("status"),
        col("cents"), lit(op).as("op"), lit(seq).as("change_seq"))
    val changes =
      ch(col("k") % 7 === 0, "U", 1, lit("U1"), col("k"))
        .unionByName(ch(col("k") % 21 === 0, "U", 2, lit("U2"), col("k")))
        .unionByName(ch(col("k") % 11 === 0, "D", 3, col("status"), col("k")))
        .unionByName(ch(col("k") % 13 === 0, "I", 1, lit("N"),
          col("k") + 5000000L))
    (base, changes)
  }

  private def configRun(s: SparkSession): DataFrame = {
    import graft.etl.{ChillPipeline, ConfigFile, WorkbookConfig}
    val rawDir = java.nio.file.Files.createTempDirectory("q_config_run")
    def writeRaw(name: String, region: String, rows: Seq[String]): Unit =
      java.nio.file.Files.writeString(rawDir.resolve(name),
        s"#REGION=$region\nid|grp|cnt\n" + rows.mkString("\n") + "\nJUNK\nTRAILER")
    writeRaw("F_20240101.csv", "EAST", Seq("1|A|10", "2|B|20", "3|A|30"))
    writeRaw("F_20240102.csv", "WEST", Seq("4|A|40", "5|B|50"))
    import s.implicits._
    Seq(("A", "Alpha")).toDF("g_code", "g_name").createOrReplaceTempView("grp_dim")
    // the workbook fixtures ship on the classpath; materialize them to
    // temp files so the query runs regardless of the launch directory
    def fromClasspath(name: String): String = {
      val in = getClass.getClassLoader
        .getResourceAsStream(s"graft/fixtures/$name")
      require(in != null, s"fixture graft/fixtures/$name not on classpath")
      val f = rawDir.resolve(name)
      try java.nio.file.Files.copy(in, f) finally in.close()
      f.toString
    }
    val parsed = WorkbookConfig.load(
      fromClasspath("chill_conf.xlsx"), fromClasspath("hld.xlsx"))
    val compiled = ConfigFile.compile(s,
      parsed.cfg.copy(input_path = rawDir.toString + "/*.csv"),
      rawDir.resolve("wh").toString)
    val cfg = compiled.lib
    // one line set feeds the slice and the tag columns: the feed is listed once
    val lines = ChillPipeline.textLines(s, cfg.rawPath)
    val raw = ChillPipeline.rawCsvFrom(s, lines, cfg.delimiter, cfg.rawColumns,
      cfg.skipHeader, cfg.skipFooter, cfg.ignoreLines)
    val tagged = ChillPipeline.withTagColumnsFrom(lines, raw, cfg.tagRules)
    ChillPipeline.run(tagged, cfg.rules, cfg.routes)
      .toSeq.sortBy(_._1)
      .map { case (table, df) =>
        // only TBL_A carries the workbook's KPI column
        val kpi = if (df.columns.contains("cnt_per_id")) col("cnt_per_id")
                  else lit(null).cast("double").as("cnt_per_id")
        df.select(lit(table).as("tbl"), col("day").cast("int").as("day"),
          col("idn"), col("grp_name"), col("cnt10"), col("region"), kpi)
      }.reduce(_.unionByName(_))
  }

  /** The q_lang_id DuckDB select, shared with q_lang_confusion's
    * rollup so the scorer definition cannot drift between the two.
    */
  private val langIdSelect =
    """SELECT doc_id, lang AS true_lang,
      | len(regexp_extract_all(text, '\b(the|and|of|is|a)\b')) AS s_en,
      | len(regexp_extract_all(text, '\b(el|la|de|que|y)\b')) AS s_es,
      | len(regexp_extract_all(text, '\b(der|die|und|das|ist)\b')) AS s_de,
      | len(regexp_extract_all(text, '\b(le|la|et|les|des)\b')) AS s_fr,
      | CASE
      |  WHEN len(regexp_extract_all(text, '\b(the|and|of|is|a)\b')) = 0
      |   AND len(regexp_extract_all(text, '\b(el|la|de|que|y)\b')) = 0
      |   AND len(regexp_extract_all(text, '\b(der|die|und|das|ist)\b')) = 0
      |   AND len(regexp_extract_all(text, '\b(le|la|et|les|des)\b')) = 0 THEN 'und'
      |  WHEN len(regexp_extract_all(text, '\b(the|and|of|is|a)\b')) >= len(regexp_extract_all(text, '\b(el|la|de|que|y)\b'))
      |   AND len(regexp_extract_all(text, '\b(the|and|of|is|a)\b')) >= len(regexp_extract_all(text, '\b(der|die|und|das|ist)\b'))
      |   AND len(regexp_extract_all(text, '\b(the|and|of|is|a)\b')) >= len(regexp_extract_all(text, '\b(le|la|et|les|des)\b')) THEN 'en'
      |  WHEN len(regexp_extract_all(text, '\b(el|la|de|que|y)\b')) >= len(regexp_extract_all(text, '\b(der|die|und|das|ist)\b'))
      |   AND len(regexp_extract_all(text, '\b(el|la|de|que|y)\b')) >= len(regexp_extract_all(text, '\b(le|la|et|les|des)\b')) THEN 'es'
      |  WHEN len(regexp_extract_all(text, '\b(der|die|und|das|ist)\b')) >= len(regexp_extract_all(text, '\b(le|la|et|les|des)\b')) THEN 'de'
      |  ELSE 'fr' END AS pred_lang
      |FROM documents""".stripMargin

  /** Shared DuckDB CTE chain of the n-gram oracle family: distinct
    * word-3-gram shingles per doc, set sizes, and per-pair
    * intersection counts — the single definition every shingle-based
    * oracle builds on, so a fix lands everywhere at once.
    */
  private val shingleCtes =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |idx AS (SELECT doc_id, w,
      |         unnest(generate_series(1, greatest(len(w)-2, 1))) AS i FROM tok),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM idx),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)""".stripMargin

  private val ngramJaccardOracle = shingleCtes + "\n" +
    """SELECT doc_a, doc_b,
      | CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jaccard
      |FROM pairs JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
      |WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8""".stripMargin

  // ---- DuckDB oracles -------------------------------------------------

  /** One delta/reset ladder, graded twice: the lag-window batch form
    * (q_counter_deltas) and the keyed-streaming-state fold
    * (q_stream_counter_deltas) must both hash-match it.
    */
  private val counterDeltaSql =
    """WITH c AS (SELECT event_type, user_id, ts, event_id,
      |   CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |l AS (SELECT event_type, ts, cents,
      |   LAG(cents, 1) OVER (PARTITION BY event_type, user_id
      |     ORDER BY ts, event_id) AS prev_cents
      |  FROM c)
      |SELECT event_type, CAST(ts AS DATE) AS day,
      | CAST(count(*) AS BIGINT) AS n_samples,
      | CAST(SUM(CASE WHEN prev_cents IS NULL THEN 0
      |   WHEN cents >= prev_cents THEN cents - prev_cents
      |   ELSE cents END) AS BIGINT) AS delta_cents,
      | CAST(SUM(CASE WHEN prev_cents IS NOT NULL AND cents < prev_cents
      |   THEN 1 ELSE 0 END) AS BIGINT) AS n_resets
      |FROM l GROUP BY 1, 2""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // E6d: FULL-oracle CMS replay — the counter matrix is plain
    // deterministic arithmetic (Kirsch–Mitzenmacher over xxh64, sum-
    // merge), so DuckDB rebuilds each probed cell as "count of events
    // whose user shares bucket_d with the probe" and takes the min
    // over the 4 rows; daily-sketch-then-merge equals one sketch over
    // all events because the merge is elementwise sum (linearity).
    // The xxh64 replay is the cmsHashChain helper below.
    "q_cms_counts" ->
      s"""WITH ev AS (SELECT event_type, user_id FROM events),
         |u AS (SELECT DISTINCT user_id::UBIGINT AS v FROM ev),
         |hh AS (SELECT v, aout AS h1u, bout AS h2u FROM (${cmsHashChain("SELECT v FROM u")})),
         |bk AS (SELECT v, d, (((h1u::HUGEINT + d * h2u::HUGEINT) % $UMod)::UBIGINT % 512)::BIGINT AS b
         |       FROM hh, (SELECT unnest([0,1,2,3]) AS d)),
         |cnt AS (SELECT e.event_type, bk.d, bk.b, count(*)::BIGINT AS c
         |        FROM ev e JOIN bk ON e.user_id::UBIGINT = bk.v GROUP BY 1, 2, 3),
         |probes AS (SELECT DISTINCT user_id FROM ev WHERE user_id < 5),
         |pb AS (SELECT p.user_id, bk.d, bk.b FROM probes p JOIN bk ON bk.v = p.user_id::UBIGINT)
         |SELECT t.event_type, pb.user_id, min(coalesce(cnt.c, 0))::BIGINT AS est_events
         |FROM (SELECT DISTINCT event_type FROM ev) t
         |CROSS JOIN pb
         |LEFT JOIN cnt ON cnt.event_type = t.event_type AND cnt.d = pb.d AND cnt.b = pb.b
         |GROUP BY 1, 2""".stripMargin,
    // D4: FULL-oracle SimHash replay — per-token xxh64 in HUGEINT
    // arithmetic (the q_cms_counts precedent extended from hashLong
    // to variable-length string bytes), 64 bit-majority sums, exact
    // hamming pair join. See simhashOracle's comment.
    "q_dedup_simhash" -> simhashOracle(),
    // the MinHash+LSH sketch replayed end-to-end: per-word xxh64 →
    // shingle polynomial → 128 variable-seed permutation minima →
    // 4-step band folds → bucket pair join. See minhashOracle.
    "q_dedup_minhash" -> minhashOracle(),
    // the same sketch replay over a moderate-Jaccard corpus (each doc
    // unioned with its half-word-prefix variant, J≈0.5 per planted
    // pair) — band collisions here hinge on WHICH element wins each
    // permutation minimum, so this fixture falsifies the min ORDER
    // (signed, not unsigned) that high-J collisions can't distinguish
    "q_dedup_minhash_mid" -> minhashOracle(midJaccardDocsRel),
    // graft's own HLL sketch replayed end-to-end (registers, ordered
    // inverse-power fold, alpha formula, linear-counting branch,
    // truncate cast). See hllCascadeOracle.
    "q_sketch_cascade" -> hllCascadeOracle(),
    "q_rollup_5m" ->
      """SELECT CAST(FLOOR(epoch(ts)/300)*300 AS BIGINT) AS bucket_start, event_type,
        | count(*) AS n_events,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_rollup_hourly" ->
      """SELECT CAST(FLOOR(epoch(ts)/3600)*3600 AS BIGINT) AS bucket_start, event_type,
        | count(*) AS n_events,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_rollup_daily" ->
      """SELECT CAST(ts AS DATE) AS day, user_id, count(*) AS n_events,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value,
        | count(DISTINCT event_type) AS n_types
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_rollup_15m" ->
      """SELECT CAST(FLOOR(epoch(ts)/900)*900 AS BIGINT) AS bucket_start, event_type,
        | count(*) AS n_events,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_rollup_yearly" ->
      """SELECT CAST(date_trunc('year', CAST(ts AS TIMESTAMP)) AS DATE) AS bucket, event_type,
        | count(*) AS n_events,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_rollup_weekly" ->
      """SELECT CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS bucket, event_type,
        | count(*) AS n_events,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_rollup_monthly" ->
      """SELECT CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS DATE) AS bucket, event_type,
        | count(*) AS n_events,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_kpi_daily" ->
      """SELECT day, n_events, n_errors, sum_value,
        | sum_value / n_events AS avg_value,
        | CAST(n_errors AS DOUBLE) / n_events AS error_rate
        |FROM (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
        |   CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
        |   CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1)""".stripMargin,
    "q_kpi_percentiles" ->
      """SELECT event_type,
        | quantile_cont(value, 0.5) AS p50,
        | quantile_cont(value, 0.95) AS p95,
        | quantile_cont(value, 0.99) AS p99,
        | count(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin,
    "q_cfg_extract" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "q_thinout" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
        |FROM events WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-15 00:00:00'""".stripMargin,
    "q_delete_reload" ->
      """WITH ev AS (
        |  SELECT event_id, CAST(ts AS DATE) AS day, user_id, event_type, value,
        |         CAST(ts AS TIMESTAMP) AS tsx
        |  FROM events),
        |inc AS (
        |  SELECT event_id, day, user_id, event_type, value*2 AS value
        |  FROM ev WHERE tsx >= TIMESTAMP '2024-01-20 00:00:00')
        |SELECT event_id, day, user_id, event_type, value FROM ev
        |WHERE day NOT IN (SELECT DISTINCT day FROM inc)
        |UNION ALL SELECT event_id, day, user_id, event_type, value FROM inc""".stripMargin,
    "q_error_summary" ->
      """SELECT CAST(ts AS DATE) AS day,
        | CAST(json_extract_string(props, '$.k') AS INT) % 10 AS error_code,
        | count(*) AS n_errors
        |FROM events WHERE event_type = 'error' GROUP BY 1, 2""".stripMargin,
    "q_lookup_enrich" ->
      """SELECT l.l_orderkey, l.l_linenumber,
        | COALESCE(p.p_brand, 'UNKNOWN') AS brand,
        | COALESCE(n.n_name, 'UNKNOWN') AS supp_nation,
        | l.l_extendedprice * (1.0 - l.l_discount) AS net_price
        |FROM lineitem l
        |LEFT JOIN part p ON l.l_partkey = p.p_partkey
        |LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey""".stripMargin,
    "q_etl_pipeline" ->
      """SELECT 'PM_SCHEMA' AS schema_name,
        | make_timestamp(CAST(FLOOR(epoch(ts)/300)*300 AS BIGINT) * 1000000) AS datetime,
        | user_id,
        | COALESCE(c.c_name, 'UNKNOWN') AS customer_name,
        | CAST(json_extract_string(props, '$.k') AS INT) AS k_code,
        | value * 100 AS scaled_value
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |WHERE event_type = 'purchase'""".stripMargin,
    "q_filename_field" ->
      """SELECT CAST(user_id % 7 AS VARCHAR) AS node_id,
        | '20240101' AS file_day, count(*) AS n_rows,
        | CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS sum_cents
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_tag_field" ->
      """SELECT 'R' || CAST((user_id % 5) * 10 AS VARCHAR) AS region,
        | count(*) AS n_rows,
        | CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS sum_cents
        |FROM events GROUP BY 1""".stripMargin,
    "q_string_diffs" ->
      """SELECT o_orderkey, o_orderpriority AS val_left,
        | o_orderpriority || '-X' AS val_right
        |FROM orders WHERE o_orderkey % 31 = 0""".stripMargin,
    "q_missing_columns" ->
      """SELECT * FROM (VALUES
        | ('missing_columns', 'orders.o_orderdate', 'failed',
        |  'expected column absent from data'),
        | ('missing_columns', 'orders.o_audit_flag', 'failed',
        |  'expected column absent from data'),
        | ('missing_columns', 'orders.o_load_ts', 'failed',
        |  'data column absent from spec')
        |) AS t(suite, test_name, status, message)""".stripMargin,
    "q_junit_report" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |   CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |r AS (SELECT k,
        |   CASE WHEN k % 89 = 0 THEN cents + 5 ELSE cents END AS cents
        |  FROM o WHERE k % 97 <> 0),
        |diffs AS (SELECT o.k, o.cents AS lv, r.cents AS rv
        |  FROM o JOIN r ON o.k = r.k WHERE o.cents <> r.cents),
        |miss AS (SELECT k FROM o WHERE k % 97 = 0)
        |SELECT 'record_counts' AS suite,
        |  'count for ' || CAST(k AS VARCHAR) AS test_name,
        |  CASE WHEN k % 97 = 0 THEN 'failed' ELSE 'passed' END AS status,
        |  'left=1 right=' || CASE WHEN k % 97 = 0 THEN '0' ELSE '1' END
        |    AS message
        | FROM o
        |UNION ALL SELECT 'missing_records', 'key ' || CAST(k AS VARCHAR),
        |  'failed', 'missing_right' FROM miss
        |UNION ALL SELECT 'missing_records', 'orders',
        |  CASE WHEN (SELECT count(*) FROM miss) = 0
        |    THEN 'passed' ELSE 'failed' END,
        |  'failing_cases=' || CAST((SELECT count(*) FROM miss) AS VARCHAR)
        |UNION ALL SELECT 'value_diffs',
        |  'diff for ' || CAST(k AS VARCHAR) || ' cents', 'failed',
        |  'left=' || CAST(lv AS VARCHAR) || ' right=' || CAST(rv AS VARCHAR)
        | FROM diffs
        |UNION ALL SELECT 'value_diffs', 'orders',
        |  CASE WHEN (SELECT count(*) FROM diffs) = 0
        |    THEN 'passed' ELSE 'failed' END,
        |  'failing_cases=' || CAST((SELECT count(*) FROM diffs) AS VARCHAR)
        |""".stripMargin,
    "q_library_cycle" ->
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase')
        |SELECT 'record_counts' AS suite, 'passed' AS status,
        |  count(*) AS n_cases FROM p
        |UNION ALL SELECT 'missing_records', 'passed', 1
        |UNION ALL SELECT 'value_diffs', 'passed', 1
        |UNION ALL SELECT 'missing_columns', 'passed', 1
        |UNION ALL SELECT 'referential', 'passed', 1""".stripMargin,
    "q_reload_readback" ->
      """WITH ev AS (SELECT CAST(ts AS DATE) AS day,
        |   CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents FROM events)
        |SELECT day, count(*) AS n_events,
        | CAST(SUM(CASE WHEN day >= DATE '2024-01-20' THEN cents * 2
        |     ELSE cents END) AS BIGINT) AS sum_cents
        |FROM ev GROUP BY 1""".stripMargin,
    "q_sql_surface" ->
      """SELECT user_id,
        | CAST(3 * SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |  + 1 * SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |  + 5 * SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |  + 2 * SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |  AS BIGINT) AS score
        |FROM events GROUP BY user_id""".stripMargin,
    "q_rollup_maintenance" ->
      """SELECT CAST(FLOOR(epoch(ts)/300)*300 AS BIGINT) AS bucket_start,
        | event_type, count(*) AS n_events,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |   AS DOUBLE) AS sum_value
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'
        |GROUP BY 1, 2""".stripMargin,
    "q_stream_ingest" ->
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n_rows,
        | CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS sum_cents
        |FROM events WHERE event_type = 'purchase' GROUP BY 1""".stripMargin,
    "q_recon_counts" ->
      """WITH l AS (SELECT l_orderkey, count(*) AS cnt_left FROM lineitem GROUP BY 1),
        |r AS (SELECT l_orderkey, count(*) AS cnt_right FROM lineitem
        |      WHERE l_linenumber <> 7 GROUP BY 1)
        |SELECT COALESCE(l.l_orderkey, r.l_orderkey) AS l_orderkey,
        | COALESCE(cnt_left, 0) AS cnt_left,
        | COALESCE(cnt_right, 0) AS cnt_right,
        | COALESCE(cnt_left, 0) = COALESCE(cnt_right, 0) AS is_match
        |FROM l FULL OUTER JOIN r ON l.l_orderkey = r.l_orderkey""".stripMargin,
    "q_recon_missing" ->
      """SELECT o_orderkey, 'missing_right' AS direction FROM orders
        |WHERE o_orderkey NOT IN
        |  (SELECT o_orderkey FROM orders WHERE o_orderstatus <> 'F')
        |UNION ALL
        |SELECT o_orderkey, 'missing_left' AS direction FROM orders
        |WHERE o_orderstatus <> 'F' AND o_orderkey NOT IN (SELECT o_orderkey FROM orders)""".stripMargin,
    "q_recon_diffs" ->
      """WITH l AS (SELECT o_orderkey AS order_key,
        |   CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(18,4)) AS val_left
        |  FROM orders),
        |r AS (SELECT l_orderkey AS order_key,
        |   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |            (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |        AS DECIMAL(18,4)) AS val_right
        |  FROM lineitem GROUP BY 1)
        |SELECT l.order_key, CAST(val_left AS DOUBLE) AS val_left,
        | CAST(val_right AS DOUBLE) AS val_right,
        | CAST(CAST(val_left - val_right AS DECIMAL(18,4)) AS DOUBLE) AS diff
        |FROM l JOIN r ON l.order_key = r.order_key
        |WHERE ABS(val_left - val_right) > 0.01""".stripMargin,
    "q_recon_diffs_multi" ->
      """WITH l AS (SELECT l_orderkey*10 + l_linenumber AS line_key, l_linenumber,
        |            l_quantity, l_extendedprice, l_discount FROM lineitem),
        |r AS (SELECT line_key,
        |       CASE WHEN l_linenumber = 1 THEN l_quantity + 1 ELSE l_quantity END AS l_quantity,
        |       l_extendedprice,
        |       CASE WHEN l_linenumber = 2 THEN l_discount * 0.5 ELSE l_discount END AS l_discount
        |      FROM l),
        |u AS (
        |  SELECT l.line_key, 'l_quantity' AS counter, l.l_quantity AS val_left, r.l_quantity AS val_right
        |  FROM l JOIN r ON l.line_key = r.line_key
        |  UNION ALL
        |  SELECT l.line_key, 'l_extendedprice', l.l_extendedprice, r.l_extendedprice
        |  FROM l JOIN r ON l.line_key = r.line_key
        |  UNION ALL
        |  SELECT l.line_key, 'l_discount', l.l_discount, r.l_discount
        |  FROM l JOIN r ON l.line_key = r.line_key)
        |SELECT line_key, counter, val_left, val_right, val_left - val_right AS diff
        |FROM u WHERE ABS(val_left - val_right) > 0.000001""".stripMargin,
    "q_skew_agg" ->
      """SELECT event_type, count(*) AS n_rows,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,
    "q_recon_referential" ->
      """SELECT (SELECT count(*) FROM orders) AS n_facts,
        | (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |   (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS n_orphans,
        | (SELECT count(*) FROM orders) -
        | (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |   (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS n_matched""".stripMargin,
    "q_topn_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |   ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) WHERE rnk <= 3""".stripMargin,
    "q_topn_heap" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |   CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rnk
        |  FROM orders) WHERE rnk <= 3""".stripMargin,
    "q_asof_attrib" ->
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |           FROM events WHERE event_type = 'purchase'),
        |e0 AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id AS err_id,
        |        value AS err_value FROM events WHERE event_type = 'error'),
        |e AS (SELECT user_id, ts, err_id, err_value FROM (
        |  SELECT e0.*, ROW_NUMBER() OVER (PARTITION BY user_id, ts
        |                                  ORDER BY err_id DESC) AS rn FROM e0)
        |  WHERE rn = 1)
        |SELECT p.event_id, p.user_id, p.ts, p.value,
        |  e.err_id AS asof_err_id, e.err_value AS asof_err_value
        |FROM p ASOF LEFT JOIN e ON p.user_id = e.user_id AND p.ts >= e.ts""".stripMargin,
    // DuckDB's native forward ASOF (p.ts <= e.ts) + the same 1-hour
    // horizon applied as a post-pick null-out
    "q_asof_forward" ->
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |           FROM events WHERE event_type = 'purchase'),
        |e0 AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id AS err_id,
        |        value AS err_value FROM events WHERE event_type = 'error'),
        |e AS (SELECT user_id, ts, err_id, err_value FROM (
        |  SELECT e0.*, ROW_NUMBER() OVER (PARTITION BY user_id, ts
        |                                  ORDER BY err_id DESC) AS rn FROM e0)
        |  WHERE rn = 1),
        |j AS (SELECT p.event_id, p.user_id, p.ts, p.value,
        |        e.ts AS ets, e.err_id, e.err_value
        |      FROM p ASOF LEFT JOIN e ON p.user_id = e.user_id AND p.ts <= e.ts)
        |SELECT event_id, user_id, ts, value,
        | CASE WHEN ets <= ts + INTERVAL 3600 SECOND THEN err_id END AS asof_err_id,
        | CASE WHEN ets <= ts + INTERVAL 3600 SECOND THEN err_value END AS asof_err_value
        |FROM j""".stripMargin,
    "q_user_totals" ->
      "SELECT user_id, count(*) AS n_events FROM events GROUP BY 1",
    // both directional ASOF picks, nearest |delta-t| wins, backward
    // breaks ties (distance-0 same-ts matches land backward both ways)
    "q_asof_nearest" ->
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |           FROM events WHERE event_type = 'purchase'),
        |e0 AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id AS err_id,
        |        value AS err_value FROM events WHERE event_type = 'error'),
        |e AS (SELECT user_id, ts, err_id, err_value FROM (
        |  SELECT e0.*, ROW_NUMBER() OVER (PARTITION BY user_id, ts
        |                                  ORDER BY err_id DESC) AS rn FROM e0)
        |  WHERE rn = 1),
        |b AS (SELECT p.event_id, p.user_id, p.ts, p.value,
        |        e.ts AS bts, e.err_id AS bid, e.err_value AS bval
        |      FROM p ASOF LEFT JOIN e ON p.user_id = e.user_id AND p.ts >= e.ts),
        |f AS (SELECT p.event_id, e.ts AS fts, e.err_id AS fid,
        |        e.err_value AS fval
        |      FROM p ASOF LEFT JOIN e ON p.user_id = e.user_id AND p.ts <= e.ts)
        |SELECT b.event_id, b.user_id, b.ts, b.value,
        | CASE WHEN bts IS NOT NULL AND (fts IS NULL OR
        |   epoch_us(b.ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(b.ts))
        |   THEN bid ELSE fid END AS asof_err_id,
        | CASE WHEN bts IS NOT NULL AND (fts IS NULL OR
        |   epoch_us(b.ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(b.ts))
        |   THEN bval ELSE fval END AS asof_err_value
        |FROM b JOIN f USING (event_id)""".stripMargin,
    // per-price max + running max over the sorted distinct prices;
    // duplicates of a frontier point all survive
    "q_skyline" ->
      """WITH m AS (SELECT p_retailprice AS price, max(p_size) AS msize
        |  FROM part GROUP BY 1),
        |w AS (SELECT price, msize, max(msize) OVER (ORDER BY price
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best FROM m),
        |s AS (SELECT price, msize FROM w WHERE best IS NULL OR msize > best)
        |SELECT p_partkey, p_name, p_retailprice, p_size
        |FROM part JOIN s ON p_retailprice = s.price AND p_size = s.msize""".stripMargin,
    // +1 at order date, -1 at the last ship date, one running sum
    "q_backlog" ->
      """WITH f AS (SELECT l_orderkey, CAST(max(l_shipdate) AS DATE) AS done_day
        |  FROM lineitem GROUP BY 1),
        |o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS day FROM orders),
        |d AS (SELECT o.day AS day, CAST(1 AS BIGINT) AS delta FROM o
        |      UNION ALL
        |      SELECT f.done_day, CAST(-1 AS BIGINT) FROM o
        |      JOIN f ON o_orderkey = l_orderkey),
        |g AS (SELECT day, CAST(sum(delta) AS BIGINT) AS net FROM d GROUP BY 1)
        |SELECT day, net,
        | CAST(sum(net) OVER (ORDER BY day) AS BIGINT) AS backlog
        |FROM g""".stripMargin,
    // DECIMAL period sums -> order-independent tier edges; same
    // (value desc, user) ntile order
    "q_decile_transition" ->
      """WITH u AS (SELECT user_id,
        |    sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |      THEN CAST(value AS DECIMAL(18,6)) END) AS va,
        |    sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
        |      THEN CAST(value AS DECIMAL(18,6)) END) AS vb
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |t AS (SELECT user_id,
        |    ntile(5) OVER (ORDER BY va DESC, user_id) AS tier_a,
        |    ntile(5) OVER (ORDER BY vb DESC, user_id) AS tier_b
        |  FROM u WHERE va IS NOT NULL AND vb IS NOT NULL)
        |SELECT tier_a, tier_b, CAST(count(*) AS BIGINT) AS n_users
        |FROM t GROUP BY 1, 2""".stripMargin,
    // exact BIGINT token sums; fertility is the one final division
    "q_fertility" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
        | CAST(sum(len(regexp_extract_all(text,
        |   '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))) AS BIGINT) AS bpeish_tokens,
        | CAST(sum(len(regexp_extract_all(text,
        |   '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))) AS DOUBLE)
        |   / sum(len(string_split(text, ' '))) AS fertility
        |FROM documents GROUP BY 1, 2""".stripMargin,
    // the q_dedup_groups recursive reachability, histogrammed
    "q_dup_cluster_sizes" -> (shingleCtes.replaceFirst("^WITH ", "WITH RECURSIVE ") + ",\n" +
      """jp AS (SELECT doc_a, doc_b
        |  FROM pairs JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
        |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM jp
        |      UNION SELECT doc_b, doc_a FROM jp),
        |reach(node, lbl) AS (
        |  SELECT a, a FROM e
        |  UNION
        |  SELECT e.b, r.lbl FROM reach r JOIN e ON e.a = r.node),
        |comp AS (SELECT node AS doc_id, MIN(lbl) AS group_id
        |  FROM reach GROUP BY node),
        |cs AS (SELECT group_id, CAST(count(*) AS BIGINT) AS cluster_size
        |  FROM comp GROUP BY 1)
        |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
        |FROM cs GROUP BY 1""".stripMargin),
    // one candidate pass at the loosest threshold; cumulative counts
    "q_dedup_sweep" -> (shingleCtes + ",\n" +
      """j AS (SELECT CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jac
        |  FROM pairs JOIN sz x ON x.doc_id = doc_a
        |  JOIN sz y ON y.doc_id = doc_b
        |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.5),
        |thr AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold)
        |SELECT threshold,
        | CAST(sum(CASE WHEN jac >= threshold THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_pairs
        |FROM thr CROSS JOIN j GROUP BY 1""".stripMargin),
    // scan-level aggregate x dup-rate aggregate, one row each, crossed
    "q_dataset_card" ->
      """WITH b AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words,
        |  quantile_cont(len(string_split(text, ' ')), 0.5) AS p50_words
        |  FROM documents),
        |d AS (SELECT CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT)
        |    AS n_dup_docs
        |  FROM (SELECT count(*) AS c FROM documents GROUP BY text))
        |SELECT n_docs, n_sources, n_langs, total_words, p50_words,
        | CAST(total_words AS DOUBLE) / n_docs AS mean_words, n_dup_docs,
        | CAST(n_dup_docs AS DOUBLE) / n_docs AS dup_rate
        |FROM b CROSS JOIN d""".stripMargin,
    // the daily histogram rebuilt directly (cascade == direct for
    // integer counts), then the same rank landing and the same
    // fixed-order interpolation expression; window SUMs cast BIGINT
    "q_hist_quantile" ->
      """WITH h AS (SELECT CAST(FLOOR(epoch(ts)/86400)*86400 AS BIGINT) AS bucket_start,
        |  event_type,
        |  greatest(0, least(49, CAST(floor((value - 0.0) / 10.0) AS INT))) AS vbucket,
        |  count(*) AS n
        | FROM events GROUP BY 1, 2, 3),
        |c AS (SELECT *,
        |  CAST(SUM(n) OVER (PARTITION BY bucket_start, event_type
        |    ORDER BY vbucket) AS BIGINT) AS cum,
        |  CAST(SUM(n) OVER (PARTITION BY bucket_start, event_type) AS BIGINT) AS total
        | FROM h),
        |x AS (SELECT c.*, p FROM c, (SELECT unnest([0.5, 0.95]) AS p))
        |SELECT bucket_start, event_type, p, total,
        | 0.0 + 10.0 * (CAST(vbucket AS DOUBLE) +
        |   ((CAST(total AS DOUBLE) - 1.0) * p - CAST(cum - n AS DOUBLE))
        |     / CAST(n AS DOUBLE)) AS est
        |FROM x
        |WHERE CAST(cum - n AS DOUBLE) <= (CAST(total AS DOUBLE) - 1.0) * p
        |  AND (CAST(total AS DOUBLE) - 1.0) * p < CAST(cum AS DOUBLE)""".stripMargin,
    // identical IEEE subtract/divide/floor bucketing, edge-clamped
    "q_histogram" ->
      """SELECT event_type,
        | greatest(0, least(49, CAST(floor((value - 0.0) / 10.0) AS INT))) AS bucket,
        | count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    // the same nine interpolated thresholds (quantile_cont list ==
    // Spark percentile array, the B9 parity), the same in-row count
    "q_deciles" ->
      """WITH c AS (SELECT doc_id, len(string_split(text, ' ')) AS n_words
        |           FROM documents),
        |t AS (SELECT quantile_cont(n_words,
        |       [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS thr FROM c)
        |SELECT len(list_filter(thr, x -> n_words >= x)) AS decile,
        | count(*) AS n_docs, min(n_words) AS min_words, max(n_words) AS max_words
        |FROM c, t GROUP BY 1""".stripMargin,
    // same per-(type, day) lag walk; quantile_cont == Spark's exact
    // interpolated percentile (the B9 parity)
    "q_interarrival" ->
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id FROM events),
        |g AS (SELECT event_type, day,
        |   us - lag(us) OVER (PARTITION BY event_type, day
        |                      ORDER BY us, event_id) AS gap_us
        |  FROM e)
        |SELECT event_type, day, count(*) AS n_gaps,
        | min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us,
        | quantile_cont(gap_us, 0.5) AS median_gap_us,
        | quantile_cont(gap_us, 0.95) AS p95_gap_us
        |FROM g WHERE gap_us IS NOT NULL GROUP BY 1, 2""".stripMargin,
    "q_sessionize" ->
      """WITH t AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |   LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER
        |     (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_us
        |  FROM events),
        |f AS (
        |  SELECT user_id, ts, event_id,
        |   CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
        |        THEN 1 ELSE 0 END AS new_session
        |  FROM t),
        |s AS (
        |  SELECT user_id, ts,
        |   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM f)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
        | min(ts) AS session_start, max(ts) AS session_end
        |FROM s GROUP BY 1, 2""".stripMargin,
    "q_dedup_exact" ->
      "SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY text",
    "q_dedup_keep_best" ->
      """WITH d AS (SELECT doc_id, source, text,
        |    CAST(length(source) % 3 AS BIGINT) AS prio FROM documents),
        |g AS (SELECT text, CAST(count(*) AS BIGINT) AS n_copies,
        |        CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        |      FROM d GROUP BY text),
        |r AS (SELECT doc_id, source, text,
        |        row_number() OVER (PARTITION BY text
        |          ORDER BY prio DESC, doc_id ASC) AS rn
        |      FROM d)
        |SELECT r.doc_id AS keep_id, r.source AS keep_source,
        |  g.n_copies, g.n_sources
        |FROM r JOIN g USING (text) WHERE rn = 1""".stripMargin,
    "q_dup_rate_by_source" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT text) AS BIGINT) AS n_unique,
        |  1.0 - CAST(count(DISTINCT text) AS DOUBLE) / count(*) AS dup_rate
        |FROM documents GROUP BY source""".stripMargin,
    "q_dedup_ngram" -> ngramJaccardOracle,
    // prefix filtering changes the candidate plan, not the result:
    // the exact-Jaccard pair set is the contract
    "q_dedup_prefix" -> ngramJaccardOracle,
    "q_dedup_containment" -> (shingleCtes + "\n" +
      """SELECT doc_a, doc_b,
        | CAST(inter AS DOUBLE) / least(x.n, y.n) AS containment
        |FROM pairs JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
        |WHERE CAST(inter AS DOUBLE) / least(x.n, y.n) >= 0.8""".stripMargin),
    // identical semantics to q_dedup_ngram: minhash candidates with
    // recall 1.0 at this threshold + exact verification
    "q_dedup_minhash_v" -> ngramJaccardOracle,
    // reachability closure over the same jaccard pair graph: every
    // node's group is the minimum doc_id reachable through pairs
    "q_dedup_groups" -> (shingleCtes.replaceFirst("^WITH ", "WITH RECURSIVE ") + ",\n" +
      """jp AS (SELECT doc_a, doc_b
        |  FROM pairs JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
        |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM jp
        |      UNION SELECT doc_b, doc_a FROM jp),
        |reach(node, lbl) AS (
        |  SELECT a, a FROM e
        |  UNION
        |  SELECT e.b, r.lbl FROM reach r JOIN e ON e.a = r.node)
        |SELECT node AS doc_id, MIN(lbl) AS group_id FROM reach GROUP BY node""".stripMargin),
    // leakage-safe split: the same reachability closure labels each
    // doc with its duplicate-cluster id (singletons fall back to
    // their own id); the split hashes THAT key with split_assign's
    // multiplicative scheme
    "q_split_leakage" -> (shingleCtes.replaceFirst("^WITH ", "WITH RECURSIVE ") + ",\n" +
      """jp AS (SELECT doc_a, doc_b
        |  FROM pairs JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
        |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM jp
        |      UNION SELECT doc_b, doc_a FROM jp),
        |reach(node, lbl) AS (
        |  SELECT a, a FROM e
        |  UNION
        |  SELECT e.b, r.lbl FROM reach r JOIN e ON e.a = r.node),
        |grp AS (SELECT node AS doc_id, MIN(lbl) AS group_id FROM reach GROUP BY node),
        |keyed AS (SELECT d.doc_id,
        |   COALESCE(g.group_id, d.doc_id) AS split_key
        |  FROM documents d LEFT JOIN grp g ON g.doc_id = d.doc_id)
        |SELECT doc_id, split_key,
        | (split_key * 2654435761) % 4294967296 % 100 AS bucket,
        | CASE WHEN (split_key * 2654435761) % 4294967296 % 100 < 80 THEN 'train'
        |      WHEN (split_key * 2654435761) % 4294967296 % 100 < 90 THEN 'val'
        |      ELSE 'test' END AS split
        |FROM keyed""".stripMargin),
    "q_dedup_filtered" -> (shingleCtes + ",\n" +
      """dups AS (SELECT DISTINCT doc_b FROM pairs
        |  JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
        |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8)
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT doc_b FROM dups)""".stripMargin),
    "q_pivot_daily" ->
      """SELECT CAST(ts AS DATE) AS day,
        | CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        | CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        | CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        | CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        | CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY 1""".stripMargin,
    "q_dedup_embed" ->
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |e AS (SELECT * FROM base
        |      UNION ALL SELECT vec_id + 100000, emb FROM base),
        |scored AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |   list_dot_product(a.emb, b.emb)
        |     / sqrt(list_dot_product(a.emb, a.emb))
        |     / sqrt(list_dot_product(b.emb, b.emb)) AS cos_sim
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, cos_sim FROM scored WHERE cos_sim >= 0.8""".stripMargin,
    "q_ann_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id,
        |   list_dot_product(q.qe, c.emb)
        |     / sqrt(list_dot_product(q.qe, q.qe))
        |     / sqrt(list_dot_product(c.emb, c.emb)) AS cos_sim
        |  FROM q JOIN e c ON c.vec_id <> q.query_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |       ORDER BY cos_sim DESC, neighbor_id) AS rnk FROM scored)
        |SELECT query_id, neighbor_id, rnk, cos_sim FROM r WHERE rnk <= 10""".stripMargin,
    // the LSH sketch replayed end-to-end (hyperplane sign matrix from
    // nested xxh64, bucket bits from sign-of-sequential-dot); see
    // lshBucketCtes / lshPairsOracle / lshTopKOracle
    "q_ann_lsh" -> lshPairsOracle(),
    "q_ann_lsh_topk" -> lshTopKOracle(),
    // same scoring expression as q_ann_topk over the full corpus,
    // mutuality via the reversed-edge self-join of the k*n edge table
    "q_knn_graph" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |   list_dot_product(q.emb, c.emb)
        |     / sqrt(list_dot_product(q.emb, q.emb))
        |     / sqrt(list_dot_product(c.emb, c.emb)) AS cos_sim
        |  FROM e q JOIN e c ON c.vec_id <> q.vec_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |       ORDER BY cos_sim DESC, neighbor_id) AS rnk FROM scored),
        |t AS (SELECT query_id, neighbor_id, rnk, cos_sim FROM r WHERE rnk <= 5)
        |SELECT t.query_id, t.neighbor_id, t.rnk, t.cos_sim,
        | COALESCE(m.mutual, FALSE) AS mutual
        |FROM t LEFT JOIN (SELECT neighbor_id AS query_id,
        |   query_id AS neighbor_id, TRUE AS mutual FROM t) m
        |  ON t.query_id = m.query_id AND t.neighbor_id = m.neighbor_id""".stripMargin,
    // engine-portable round-half-up (floor(x+0.5)) — builtin round()
    // tie behavior differs across engines; digests stay in exact ints
    "q_embed_quantize" ->
      """WITH s AS (SELECT vec_id, embedding,
        |   CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS max_abs
        |  FROM embeddings),
        |q AS (SELECT vec_id, max_abs,
        |   list_transform(embedding, x -> CASE WHEN max_abs = 0 THEN 0
        |     ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 / max_abs + 0.5) AS INT)
        |     END) AS qvec
        |  FROM s)
        |SELECT vec_id, max_abs, len(qvec) AS n_dims,
        | CAST(list_sum(list_transform(qvec, v -> CAST(v AS BIGINT))) AS BIGINT) AS sum_q,
        | CAST(list_sum(list_transform(qvec, v -> CAST(v AS BIGINT) * v)) AS BIGINT) AS sum_q2
        |FROM q""".stripMargin,
    "q_ann_quantized" ->
      """WITH s AS (SELECT vec_id, embedding,
        |   CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS max_abs
        |  FROM embeddings),
        |e AS (SELECT vec_id,
        |   list_transform(embedding, x -> CASE WHEN max_abs = 0 THEN 0
        |     ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 / max_abs + 0.5) AS INT)
        |     END) AS qv
        |  FROM s),
        |d AS (SELECT vec_id, qv::DOUBLE[] AS qd FROM e),
        |q AS (SELECT vec_id AS query_id, qd AS qe FROM d WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id,
        |   list_dot_product(q.qe, c.qd)
        |     / sqrt(list_dot_product(q.qe, q.qe))
        |     / sqrt(list_dot_product(c.qd, c.qd)) AS cos_sim
        |  FROM q JOIN d c ON c.vec_id <> q.query_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |       ORDER BY cos_sim DESC, neighbor_id) AS rnk FROM scored)
        |SELECT query_id, neighbor_id, rnk, cos_sim FROM r WHERE rnk <= 10""".stripMargin,
    "q_ann_ivf" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cell_id, emb AS c_emb FROM e WHERE vec_id < 16),
        |cells AS (SELECT vec_id, emb, c_norm, cell_id FROM (
        |  SELECT e.vec_id, e.emb, sqrt(list_dot_product(e.emb, e.emb)) AS c_norm, c.cell_id,
        |   ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |     ORDER BY -list_dot_product(e.emb, c.c_emb) ASC, c.cell_id ASC) AS rn
        |  FROM e, c) WHERE rn = 1),
        |q AS (SELECT query_id, qe, q_norm, cell_id FROM (
        |  SELECT e.vec_id AS query_id, e.emb AS qe,
        |   sqrt(list_dot_product(e.emb, e.emb)) AS q_norm, c.cell_id,
        |   ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |     ORDER BY -list_dot_product(e.emb, c.c_emb) ASC, c.cell_id ASC) AS rn
        |  FROM e, c WHERE e.vec_id < 5) WHERE rn <= 4),
        |scored AS (
        |  SELECT q.query_id, cells.vec_id AS neighbor_id,
        |   list_dot_product(q.qe, cells.emb) / q.q_norm / cells.c_norm AS cos_sim
        |  FROM q JOIN cells ON q.cell_id = cells.cell_id
        |  WHERE cells.vec_id <> q.query_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |       ORDER BY cos_sim DESC, neighbor_id) AS rnk FROM scored)
        |SELECT query_id, neighbor_id, rnk, cos_sim FROM r WHERE rnk <= 10""".stripMargin,
    // adaptive-cell IVF: same replay, but the seed-cell count is
    // derived from COUNT(*) exactly as Ann.autoCellCount does
    // the fixed-round Lloyd fit unrolled into chained CTEs (the
    // q_bpe_train precedent) — promoted from rows-only in r12 once
    // refineCentroids' means became decimal-exact; see ivfKmeansOracle
    "q_ann_ivf_kmeans" -> ivfKmeansOracle(),
    "q_ann_ivf_auto" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |k AS (SELECT GREATEST(1, LEAST(4096,
        |        CAST(CEIL(COUNT(*) / 256.0) AS BIGINT))) AS ncells FROM e),
        |c AS (SELECT vec_id AS cell_id, emb AS c_emb FROM (
        |  SELECT vec_id, emb, ROW_NUMBER() OVER (ORDER BY vec_id) AS srn
        |  FROM e) WHERE srn <= (SELECT ncells FROM k)),
        |cells AS (SELECT vec_id, emb, c_norm, cell_id FROM (
        |  SELECT e.vec_id, e.emb, sqrt(list_dot_product(e.emb, e.emb)) AS c_norm, c.cell_id,
        |   ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |     ORDER BY -list_dot_product(e.emb, c.c_emb) ASC, c.cell_id ASC) AS rn
        |  FROM e, c) WHERE rn = 1),
        |q AS (SELECT query_id, qe, q_norm, cell_id FROM (
        |  SELECT e.vec_id AS query_id, e.emb AS qe,
        |   sqrt(list_dot_product(e.emb, e.emb)) AS q_norm, c.cell_id,
        |   ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |     ORDER BY -list_dot_product(e.emb, c.c_emb) ASC, c.cell_id ASC) AS rn
        |  FROM e, c WHERE e.vec_id < 5) WHERE rn <= 4),
        |scored AS (
        |  SELECT q.query_id, cells.vec_id AS neighbor_id,
        |   list_dot_product(q.qe, cells.emb) / q.q_norm / cells.c_norm AS cos_sim
        |  FROM q JOIN cells ON q.cell_id = cells.cell_id
        |  WHERE cells.vec_id <> q.query_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |       ORDER BY cos_sim DESC, neighbor_id) AS rnk FROM scored)
        |SELECT query_id, neighbor_id, rnk, cos_sim FROM r WHERE rnk <= 10""".stripMargin,
    "q_embed_norm" ->
      """SELECT vec_id, sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |FROM embeddings""".stripMargin,
    // order-independent stats only (no mean: double sums drift)
    "q_emb_norm_stats" ->
      """WITH n AS (SELECT label,
        |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
        |    AS norm FROM embeddings)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        | CAST(sum(CASE WHEN norm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        | min(norm) AS min_norm,
        | quantile_cont(norm, 0.5) AS p50_norm,
        | max(norm) AS max_norm
        |FROM n GROUP BY 1""".stripMargin,
    // B9-parity interpolated percentiles per (type, day)
    "q_quantile_bands" ->
      """SELECT event_type, CAST(ts AS DATE) AS day,
        | CAST(count(*) AS BIGINT) AS n_events,
        | min(value) AS min_value,
        | quantile_cont(value, 0.1) AS p10,
        | quantile_cont(value, 0.5) AS p50,
        | quantile_cont(value, 0.9) AS p90,
        | max(value) AS max_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // the same first-day window tag, rolled up per day
    "q_new_vs_returning" ->
      """WITH t AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    min(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS first_day
        |  FROM events)
        |SELECT day,
        | CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
        |   AS new_events,
        | CAST(sum(CASE WHEN day <> first_day THEN 1 ELSE 0 END) AS BIGINT)
        |   AS returning_events,
        | CAST(count(DISTINCT CASE WHEN day = first_day THEN user_id END)
        |   AS BIGINT) AS new_users,
        | CAST(count(DISTINCT CASE WHEN day <> first_day THEN user_id END)
        |   AS BIGINT) AS returning_users
        |FROM t GROUP BY 1""".stripMargin,
    "q_quality_by_source" ->
      """WITH q AS (SELECT doc_id, source,
        |   len(string_split(text, ' ')) AS n_words,
        |   len(regexp_extract_all(text, '\b(the|a|an|of|and|in|to|is)\b')) AS n_stopwords
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        | CAST(SUM(n_words) AS BIGINT) AS total_words,
        | CAST(SUM(n_stopwords) AS BIGINT) AS total_stopwords,
        | CAST(CAST(SUM(n_stopwords) AS BIGINT) AS DOUBLE) / CAST(SUM(n_words) AS BIGINT) AS stopword_ratio
        |FROM q GROUP BY 1""".stripMargin,
    "q_lang_id" -> langIdSelect,
    // the q_lang_id scorer rolled up to (true, pred) with recall
    "q_lang_confusion" ->
      (s"WITH li AS (\n$langIdSelect),\n" +
        """c AS (SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
          |  FROM li GROUP BY 1, 2)
          |SELECT true_lang, pred_lang, n,
          | CAST(sum(n) OVER (PARTITION BY true_lang) AS BIGINT) AS n_true,
          | CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY true_lang)
          |   AS share_of_true
          |FROM c""".stripMargin),
    // pmod == % for the non-negative key; total crossed from one row
    "q_partition_skew" ->
      """WITH b AS (SELECT user_id % 32 AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_rows FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total FROM b)
        |SELECT bucket, n_rows, CAST(n_rows AS DOUBLE) / total AS share,
        | CAST(n_rows * 32 AS DOUBLE) / total AS ratio_to_even
        |FROM b CROSS JOIN t""".stripMargin,
    // identical 7-bit varint ladder over the same (user, ts) deltas
    "q_delta_encode" ->
      """WITH l AS (SELECT user_id, epoch_us(ts) - lag(epoch_us(ts))
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
        |  FROM events),
        |v AS (SELECT CASE WHEN delta IS NULL THEN 8
        |  WHEN delta < 128 THEN 1 WHEN delta < 16384 THEN 2
        |  WHEN delta < 2097152 THEN 3 WHEN delta < 268435456 THEN 4
        |  WHEN delta < 34359738368 THEN 5 WHEN delta < 4398046511104 THEN 6
        |  WHEN delta < 562949953421312 THEN 7
        |  WHEN delta < 72057594037927936 THEN 8 ELSE 9 END AS vb FROM l)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(*) * 8 AS BIGINT) AS raw_bytes,
        | CAST(sum(vb) AS BIGINT) AS varint_bytes,
        | CAST(count(*) * 8 AS DOUBLE) / sum(vb) AS compression_ratio
        |FROM v""".stripMargin,
    "q_text_quality" ->
      """SELECT doc_id, length(text) AS n_chars,
        | len(string_split(text, ' ')) AS n_words,
        | len(regexp_extract_all(text, '\b(the|a|an|of|and|in|to|is)\b')) AS n_stopwords,
        | CAST(len(regexp_extract_all(text, '\b(the|a|an|of|and|in|to|is)\b')) AS DOUBLE)
        |   / len(string_split(text, ' ')) AS stopword_ratio,
        | CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |   / len(string_split(text, ' ')) AS mean_word_len
        |FROM documents""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        | len(string_split(text, ' ')) AS ws_tokens,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS bpeish_tokens,
        | length(text) AS n_chars
        |FROM documents""".stripMargin,
    "q_text_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |n AS (SELECT doc_id, w,
        |       greatest(CAST(ceil((len(w) - 16) / 48.0) AS INT), 1) AS nc FROM t),
        |c AS (SELECT doc_id, w,
        |       unnest(generate_series(0, nc - 1)) AS chunk_idx FROM n)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        | array_to_string(w[chunk_idx*48+1 : chunk_idx*48+64], ' ') AS chunk
        |FROM c""".stripMargin,
    "q_sample_corpus" ->
      "SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id % 100 < 10",
    // same multiplicative hash (exact long arithmetic) and the same
    // (hkey, doc_id) order — row_number replays the heap selection
    "q_sample_stratified" ->
      """WITH h AS (SELECT source, doc_id,
        |    (doc_id * 2654435761) % 4294967296 AS hkey FROM documents),
        |r AS (SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY hkey, doc_id) AS rn
        |  FROM h)
        |SELECT source, CAST(doc_id AS BIGINT) AS doc_id FROM r WHERE rn <= 20""".stripMargin,
    // interval containment replayed as a plain BETWEEN join
    "q_range_band" ->
      """WITH b AS (SELECT o_orderpriority AS band,
        |    min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |  FROM orders GROUP BY 1)
        |SELECT band, count(*) AS n_in_band
        |FROM orders o JOIN b ON o.o_totalprice BETWEEN b.lo AND b.hi
        |GROUP BY band""".stripMargin,
    // same mixed-hash mod-100 selection per stratum
    "q_sample_weighted" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE ((doc_id * 2654435761) % 4294967296) % 100 <
        |  CASE source WHEN 'src1' THEN 80 WHEN 'src2' THEN 0 ELSE 25 END""".stripMargin,
    // exclusive running token total per source in doc_id order; the
    // pack is the budget window the doc's first token lands in
    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents)
        |SELECT doc_id, source, n_tokens,
        |  CAST(coalesce(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset,
        |  CAST(coalesce(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS BIGINT) AS pack_id
        |FROM t""".stripMargin,
    // exact replay of the mod-p rolling hash: prepend the fold's init
    // (DuckDB's list_reduce has no init argument) and apply the same
    // step functions; all intermediates < 2^39 so no overflow anywhere
    "q_fingerprint" ->
      """SELECT doc_id, list_reduce(
        |  list_prepend(0::BIGINT,
        |    list_transform(string_split(text, ' '),
        |      w -> list_reduce(
        |             list_prepend(0::BIGINT,
        |               list_transform(list_filter(string_split(w, ''), ch -> ch <> ''),
        |                 ch -> unicode(ch)::BIGINT)),
        |             (h, c) -> (h*127 + c) % 2147483647))),
        |  (acc, x) -> (acc*131 + x + 1) % 2147483647) AS fingerprint
        |FROM documents""".stripMargin,
    "q_text_redact" ->
      """SELECT doc_id,
        | regexp_replace(
        |   regexp_replace(
        |     regexp_replace(text,
        |       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |     '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'),
        |   '\+?\d[\d() -]{6,}\d', '<NUM>', 'g') AS text
        |FROM documents""".stripMargin,
    // payload is UTF-8 of an ASCII corpus, so byte stats == codepoint
    // stats; f_mean is one double division of the same integer sum on
    // both sides (IEEE-identical)
    "q_multimodal" ->
      """WITH b AS (SELECT doc_id, 'text/plain' AS media_type,
        |  list_transform(string_split(text, ''), x -> unicode(x)) AS cps
        | FROM documents)
        |SELECT doc_id, media_type, CAST(len(cps) AS BIGINT) AS n_bytes,
        | CAST(len(cps) AS DOUBLE) AS f_len,
        | CAST(list_sum(cps) AS DOUBLE) / len(cps) AS f_mean,
        | CAST(list_max(cps) AS DOUBLE) AS f_max,
        | CAST(list_min(cps) AS DOUBLE) AS f_min
        |FROM b""".stripMargin,
    // replays the synthetic-image derivation arithmetically: the
    // Spark side encodes real container bytes from these same values
    // and must decode them back identically
    "q_image_meta" ->
      """SELECT doc_id,
        | CASE CAST(doc_id % 4 AS INTEGER) WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
        |   WHEN 2 THEN 'gif' ELSE 'jpeg' END AS format,
        | CAST(doc_id % 32 + 1 AS INTEGER) AS width,
        | CAST(doc_id % 24 + 1 AS INTEGER) AS height,
        | CAST(8 AS INTEGER) AS bit_depth,
        | CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 3 END AS INTEGER) AS channels
        |FROM documents""".stripMargin,
    // replays the same deterministic log generation + running
    // last-header window + regex extraction as the Spark side
    "q_dbl_errors" ->
      """WITH src AS (
        |  SELECT o_orderkey AS k,
        |    'dbl_' || CAST(o_orderkey % 2 AS VARCHAR) || '.log' AS log_file,
        |    CASE
        |      WHEN o_orderkey % 5 = 0 THEN
        |        'Table PM_SCHEMA.TBL_' || CAST(o_orderkey % 3 AS VARCHAR) || '_5M, loading'
        |      WHEN o_orderkey % 5 IN (1, 2) THEN
        |        'Record ' || CAST(o_orderkey AS VARCHAR) || ': bad value in field F' || CAST(o_orderkey % 7 AS VARCHAR)
        |      WHEN o_orderkey % 5 = 3 THEN
        |        'ORA-' || CAST(1700 + o_orderkey % 100 AS VARCHAR) || ': invalid number'
        |      ELSE '1234 Rows successfully loaded' END AS value
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |tagged AS (
        |  SELECT log_file, value,
        |    last_value(CASE WHEN value LIKE 'Table %' THEN value END IGNORE NULLS)
        |      OVER (PARTITION BY log_file ORDER BY k
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _tbl,
        |    CASE WHEN value LIKE 'ORA-%' THEN 'oracle_error'
        |         WHEN value LIKE 'Record %' THEN 'record_error'
        |         WHEN value LIKE '%Rows%' THEN 'stats' END AS kind
        |  FROM src)
        |SELECT DISTINCT log_file,
        |  regexp_replace(regexp_extract(_tbl, '^Table ([^,]+)', 1),
        |                 '^[^.]*\.|_[^_]+$', '', 'g') AS table_name,
        |  kind,
        |  CASE WHEN kind = 'record_error'
        |       THEN trim(regexp_extract(value, '^Record [^:]*:(.*)$', 1))
        |       ELSE value END AS detail
        |FROM tagged WHERE kind IS NOT NULL AND _tbl IS NOT NULL""".stripMargin,
    // each granularity recomputed directly from events (decimal sums
    // make cascade == direct, like q_rollup_hourly); cutoffs are the
    // fixed asOf 2024-03-01T00:00:00Z minus the suffix's days
    "q_retention_sweep" ->
      """WITH g(tbl, secs, cutoff) AS (VALUES
        |  ('rollup_5M', 300, 1706659200),
        |  ('rollup_15M', 900, 1706659200),
        |  ('rollup_HH', 3600, 1706659200),
        |  ('rollup_DY', 86400, 1393891200))
        |SELECT g.tbl,
        |  CAST(FLOOR(epoch(ts)/g.secs)*g.secs AS BIGINT) AS bucket_start,
        |  event_type, count(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
        |FROM events CROSS JOIN g
        |WHERE CAST(FLOOR(epoch(ts)/g.secs)*g.secs AS BIGINT) >= g.cutoff
        |GROUP BY 1, 2, 3""".stripMargin,
    // the raw feed content is fixed, so the expected output is the
    // routed tables as literals + the same lookup/formula arithmetic
    "q_config_run" ->
      """WITH raw(tbl, day, id, grp, cnt, region) AS (VALUES
        |  ('TBL_A_5M', 20240101, 1, 'A', 10, 'EAST'),
        |  ('TBL_A_5M', 20240101, 3, 'A', 30, 'EAST'),
        |  ('TBL_A_5M', 20240102, 4, 'A', 40, 'WEST'),
        |  ('TBL_B_5M', 20240101, 2, 'B', 20, 'EAST'),
        |  ('TBL_B_5M', 20240102, 5, 'B', 50, 'WEST'))
        |SELECT tbl, day, CAST(id AS BIGINT) AS idn,
        |  CASE WHEN grp = 'A' THEN 'Alpha' ELSE 'UNKNOWN' END AS grp_name,
        |  CAST(cnt*10 + id AS BIGINT) AS cnt10, region,
        |  CASE WHEN tbl = 'TBL_A_5M'
        |       THEN CAST(cnt*10 + id AS DOUBLE) / id END AS cnt_per_id
        |FROM raw""".stripMargin,
    // same single-division ratios over the same word/bigram arrays;
    // DuckDB list slicing w[i:i+1] is inclusive (2 elements)
    "q_quality_repetition" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
        |m AS (SELECT doc_id, text, len(w) AS n_words,
        |   1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS dup_word_ratio,
        |   CASE WHEN len(w) >= 2
        |        THEN list_transform(generate_series(1, len(w) - 1),
        |               i -> w[i] || ' ' || w[i+1])
        |        ELSE [] END AS g
        |  FROM t)
        |SELECT doc_id, CAST(n_words AS INT) AS n_words, dup_word_ratio,
        | CASE WHEN len(g) > 0
        |      THEN 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g)
        |      ELSE 0.0 END AS dup_bigram_ratio,
        | CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
        |   / n_words AS symbol_ratio,
        | CAST(dup_word_ratio <= 0.6
        |  AND (CASE WHEN len(g) > 0
        |       THEN 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g)
        |       ELSE 0.0 END) <= 0.4
        |  AND CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
        |       / n_words <= 0.1 AS INT) AS keep
        |FROM m""".stripMargin,
    "q_vocab_topk" ->
      """SELECT word, count(*) AS n_occurrences
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE word <> ''
        |GROUP BY word ORDER BY n_occurrences DESC, word LIMIT 50""".stripMargin,
    // same per-doc-distinct 5-gram sets; w[i:i+4] is 5 words inclusive
    "q_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id,
        |   unnest(list_distinct(list_transform(generate_series(1, len(w) - 4),
        |     i -> array_to_string(w[i:i+4], ' ')))) AS gram
        |  FROM t WHERE len(w) >= 5),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 3),
        |corp AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 3)
        |SELECT corp.doc_id, count(*) AS n_hits
        |FROM corp JOIN bench USING (gram)
        |GROUP BY 1""".stripMargin,
    // quantile_cont == Spark's exact linear-interpolation percentile
    "q_quality_filter" ->
      """WITH q AS (SELECT doc_id, len(string_split(text, ' ')) AS n_words
        |  FROM documents),
        |t AS (SELECT quantile_cont(n_words, 0.5) AS thr FROM q)
        |SELECT doc_id, CAST(n_words AS INT) AS n_words
        |FROM q, t WHERE n_words >= thr""".stripMargin,
    // ->> extracts the field as text; absent fields are NULL on both
    // sides, and avg is one double division of the same integers
    "q_json_extract" ->
      """WITH e AS (SELECT event_type,
        |    CAST(props->>'k' AS INT) AS v FROM events)
        |SELECT event_type, count(*) AS n_events, count(v) AS n_with_field,
        | CAST(SUM(v) AS BIGINT) AS sum_v, min(v) AS min_v, max(v) AS max_v,
        | CAST(CAST(SUM(v) AS BIGINT) AS DOUBLE) / count(v) AS avg_v
        |FROM e GROUP BY 1""".stripMargin,
    // lag IS DISTINCT FROM == Spark's isNull || =!= on a non-null attr
    // SCD2 rebuilt on the state feed, then the plain interval-
    // containment LEFT JOIN — equivalent to the as-of + valid_to
    // guard (tiled half-open intervals)
    "q_point_in_time" ->
      """WITH src AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
        |   event_id FROM events WHERE event_type IN ('signup', 'error')),
        |o AS (SELECT user_id, event_type, ts, event_id,
        |  CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |       IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
        | FROM src),
        |v AS (SELECT user_id, event_type, ts,
        |  CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
        | FROM o),
        |runs AS (SELECT user_id, version, min(event_type) AS event_type,
        |   min(ts) AS valid_from FROM v GROUP BY 1, 2),
        |d AS (SELECT user_id, version, event_type, valid_from,
        |   lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
        |     AS valid_to FROM runs),
        |f AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |      FROM events WHERE event_type = 'purchase')
        |SELECT f.event_id, f.user_id, f.ts, f.value,
        | d.event_type AS asof_event_type, d.version AS asof_version
        |FROM f LEFT JOIN d ON f.user_id = d.user_id
        | AND f.ts >= d.valid_from
        | AND (d.valid_to IS NULL OR f.ts < d.valid_to)""".stripMargin,
    "q_scd2" ->
      """WITH o AS (SELECT user_id, event_type, ts, event_id,
        |  CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |       IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
        | FROM events),
        |v AS (SELECT user_id, event_type, ts,
        |  CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
        | FROM o),
        |runs AS (SELECT user_id, version, min(event_type) AS event_type,
        |  min(ts) AS valid_from, count(*) AS n_rows
        | FROM v GROUP BY 1, 2)
        |SELECT user_id, version, event_type, valid_from,
        | lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
        | n_rows,
        | CAST(lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
        |   IS NULL AS INT) AS is_current
        |FROM runs""".stripMargin,
    // every constant is binary-exact (.5, .25, .75, 2.25) and every
    // expression is written in the same association order as the
    // Spark side, so doubles — including ln, bit-identical between
    // DuckDB's libm and the JVM — hash-match exactly
    "q_inverted_index" ->
      """WITH td AS (
        |  SELECT DISTINCT term, doc_id FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term, doc_id FROM documents)
        |  WHERE term <> ''),
        |r AS (SELECT term, doc_id,
        |        CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df,
        |        row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
        |      FROM td)
        |SELECT term, df, doc_id FROM r WHERE rn <= 5""".stripMargin,
    "q_length_buckets" ->
      """WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |b AS (SELECT ((n_tokens + 15) // 16) * 16 AS padded_len,
        |        CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |      FROM t GROUP BY 1)
        |SELECT padded_len, n_docs, sum_tokens,
        |  n_docs * padded_len AS padded_tokens,
        |  CAST(sum_tokens AS DOUBLE) / (n_docs * padded_len) AS pad_efficiency
        |FROM b""".stripMargin,
    "q_mixture_plan" ->
      """WITH s AS (SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens,
        |    CAST(length(source) % 3 + 1 AS BIGINT) AS weight_raw
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(weight_raw) AS BIGINT) AS total_w FROM s),
        |p AS (SELECT source, avail_tokens, weight_raw,
        |        CAST(floor(CAST(weight_raw AS DOUBLE) / total_w * 100000) AS BIGINT)
        |          AS target_tokens
        |      FROM s, t)
        |SELECT source, avail_tokens, weight_raw, target_tokens,
        |  least(target_tokens, avail_tokens) AS planned_tokens,
        |  CAST(least(target_tokens, avail_tokens) AS DOUBLE) / avail_tokens
        |    AS sampling_rate,
        |  CAST(target_tokens AS DOUBLE) / avail_tokens AS epochs
        |FROM p""".stripMargin,
    // adaptive-cell SemDeDup: the oracle derives the SAME cell count
    // the operator does — ⌈n/256⌉ clamped to [1,4096] from COUNT(*) —
    // then replays seed assignment (lowest-id vectors) and the
    // within-cell pairwise test, so the grade is exact at any SF
    "q_dedup_semantic_auto" ->
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |e AS (SELECT * FROM base
        |      UNION ALL SELECT vec_id + 100000, emb FROM base),
        |k AS (SELECT GREATEST(1, LEAST(4096,
        |        CAST(CEIL(COUNT(*) / 256.0) AS BIGINT))) AS ncells FROM e),
        |c AS (SELECT vec_id AS cell_id, emb AS c_emb FROM (
        |  SELECT vec_id, emb, ROW_NUMBER() OVER (ORDER BY vec_id) AS srn
        |  FROM e) WHERE srn <= (SELECT ncells FROM k)),
        |cells AS (SELECT vec_id, emb, nrm, cell_id FROM (
        |  SELECT e.vec_id, e.emb, sqrt(list_dot_product(e.emb, e.emb)) AS nrm, c.cell_id,
        |   ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |     ORDER BY -list_dot_product(e.emb, c.c_emb) ASC, c.cell_id ASC) AS rn
        |  FROM e, c) WHERE rn = 1),
        |dups AS (SELECT DISTINCT b.vec_id FROM cells a JOIN cells b
        |  ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
        |  AND list_dot_product(a.emb, b.emb) / a.nrm / b.nrm >= 0.8)
        |SELECT cells.vec_id, cells.cell_id,
        | (dups.vec_id IS NOT NULL) AS is_dup
        |FROM cells LEFT JOIN dups ON cells.vec_id = dups.vec_id""".stripMargin,
    // cell assignment replays the IVF oracle (seed centroids =
    // 16 lowest ids); within-cell pairwise at theta=0.8, dup iff a
    // lower id in the same cell clears the threshold
    "q_dedup_semantic" ->
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |e AS (SELECT * FROM base
        |      UNION ALL SELECT vec_id + 100000, emb FROM base),
        |c AS (SELECT vec_id AS cell_id, emb AS c_emb FROM e WHERE vec_id < 16),
        |cells AS (SELECT vec_id, emb, nrm, cell_id FROM (
        |  SELECT e.vec_id, e.emb, sqrt(list_dot_product(e.emb, e.emb)) AS nrm, c.cell_id,
        |   ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |     ORDER BY -list_dot_product(e.emb, c.c_emb) ASC, c.cell_id ASC) AS rn
        |  FROM e, c) WHERE rn = 1),
        |dups AS (SELECT DISTINCT b.vec_id FROM cells a JOIN cells b
        |  ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
        |  AND list_dot_product(a.emb, b.emb) / a.nrm / b.nrm >= 0.8)
        |SELECT cells.vec_id, cells.cell_id,
        | (dups.vec_id IS NOT NULL) AS is_dup
        |FROM cells LEFT JOIN dups ON cells.vec_id = dups.vec_id""".stripMargin,
    // same cell assignment; the per-cell pick replays the heap as a
    // row_number over the shared multiplicative-hash order
    "q_sample_diverse" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cell_id, emb AS c_emb FROM e WHERE vec_id < 16),
        |cells AS (SELECT vec_id, cell_id FROM (
        |  SELECT e.vec_id, c.cell_id,
        |   ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |     ORDER BY -list_dot_product(e.emb, c.c_emb) ASC, c.cell_id ASC) AS rn
        |  FROM e, c) WHERE rn = 1),
        |h AS (SELECT cell_id, vec_id,
        |    (vec_id * 2654435761) % 4294967296 AS hkey FROM cells),
        |r AS (SELECT cell_id, vec_id,
        |    row_number() OVER (PARTITION BY cell_id ORDER BY hkey, vec_id) AS rn
        |  FROM h)
        |SELECT cell_id, CAST(vec_id AS BIGINT) AS vec_id FROM r WHERE rn <= 4""".stripMargin,
    "q_split_assign" ->
      """SELECT doc_id,
        | (doc_id * 2654435761) % 4294967296 % 100 AS bucket,
        | CASE WHEN (doc_id * 2654435761) % 4294967296 % 100 < 80 THEN 'train'
        |      WHEN (doc_id * 2654435761) % 4294967296 % 100 < 90 THEN 'val'
        |      ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    "q_shuffle_shards" ->
      """WITH x AS (SELECT doc_id, unnest([0, 1]) AS epoch FROM documents),
        |h AS (SELECT CAST(epoch AS INT) AS epoch, doc_id,
        |   ((doc_id + epoch * 1000003) * 2654435761) % 4294967296 AS hkey FROM x)
        |SELECT epoch, hkey % 8 AS shard_id,
        | CAST(row_number() OVER (PARTITION BY epoch, hkey % 8
        |   ORDER BY hkey, doc_id) AS INT) AS pos_in_shard,
        | doc_id, hkey
        |FROM h""".stripMargin,
    "q_novelty" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id,
        |   unnest(list_distinct(list_transform(generate_series(1, len(w) - 2),
        |     i -> array_to_string(w[i:i+2], ' ')))) AS gram
        |  FROM t WHERE len(w) >= 3),
        |df AS (SELECT gram, count(*) AS gram_df FROM g GROUP BY 1)
        |SELECT g.doc_id, count(*) AS n_grams,
        | CAST(sum(CASE WHEN df.gram_df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        | CAST(CAST(sum(CASE WHEN df.gram_df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
        |   / count(*) AS novelty
        |FROM g JOIN df ON g.gram = df.gram
        |GROUP BY g.doc_id""".stripMargin,
    "q_user_features" ->
      """SELECT user_id, count(*) AS n_events,
        | count(DISTINCT CAST(ts AS DATE)) AS n_active_days,
        | min(CAST(ts AS DATE)) AS first_day,
        | max(CAST(ts AS DATE)) AS last_day,
        | CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        | CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        | CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        | CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        | CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value,
        | CAST(CAST(sum(CASE WHEN event_type = 'purchase'
        |     THEN CAST(value AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS DOUBLE) AS purchase_value,
        | CAST(date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) + 1 AS INT) AS days_span
        |FROM events GROUP BY 1""".stripMargin,
    // integer dyadic decay: weight = 1 << (40 - halvings), BIGINT
    // sums exact in any order; one lossless division at the end
    "q_decay_score" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT max(day) AS anchor_day FROM daily),
        |w AS (SELECT user_id, n_events,
        |   least(CAST(floor(date_diff('day', day, anchor_day) / 7.0) AS BIGINT), 40)
        |     AS halvings
        |  FROM daily, a)
        |SELECT user_id,
        | CAST(sum(n_events * (1::BIGINT << CAST(40 - halvings AS INT))) AS BIGINT)
        |   AS score_scaled,
        | CAST(CAST(sum(n_events * (1::BIGINT << CAST(40 - halvings AS INT))) AS BIGINT)
        |   AS DOUBLE) / 1099511627776.0 AS decay_score
        |FROM w GROUP BY 1""".stripMargin,
    // integer daily counts keep the interpolated medians dyadic
    // (x or x.5), so quantile_cont replays Spark's exact percentile
    "q_mad_outliers" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS n_events FROM events GROUP BY 1, 2),
        |med AS (SELECT event_type, quantile_cont(n_events, 0.5) AS med
        |  FROM daily GROUP BY 1),
        |dev AS (SELECT d.event_type, d.day, d.n_events, m.med,
        |    abs(d.n_events - m.med) AS abs_dev
        |  FROM daily d JOIN med m USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(abs_dev, 0.5) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT dev.event_type, dev.day, dev.n_events, dev.med,
        | dev.abs_dev, mad.mad, (dev.abs_dev > 3 * mad.mad) AS is_outlier
        |FROM dev JOIN mad USING (event_type)""".stripMargin,
    "q_wow_change" ->
      """WITH wk AS (SELECT event_type,
        |    CAST(date_trunc('week', ts) AS DATE) AS week_start,
        |    count(*) AS n_events FROM events GROUP BY 1, 2)
        |SELECT event_type, week_start, n_events,
        | lag(n_events) OVER (PARTITION BY event_type ORDER BY week_start) AS prev_n,
        | n_events - lag(n_events) OVER (PARTITION BY event_type ORDER BY week_start)
        |   AS delta,
        | CAST(n_events - lag(n_events) OVER (PARTITION BY event_type ORDER BY week_start)
        |   AS DOUBLE)
        |   / lag(n_events) OVER (PARTITION BY event_type ORDER BY week_start)
        |   AS pct_change
        |FROM wk""".stripMargin,
    // the two centroid CTEs reuse the VARCHAR-decimal exact-sum trick
    // from q_source_similarity; cosine accumulates left-to-right
    "q_embed_drift" ->
      """WITH ma AS (
        |  SELECT label, i - 1 AS pos,
        |   CAST(CAST(sum(CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR)
        |     AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) / count(*) AS mean_v
        |  FROM embeddings, range(1, 65) t(i)
        |  GROUP BY 1, 2),
        |va AS (SELECT label, list(mean_v ORDER BY pos) AS cvec FROM ma GROUP BY 1),
        |mb AS (
        |  SELECT label, i - 1 AS pos,
        |   CAST(CAST(sum(CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR)
        |     AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) / count(*) AS mean_v
        |  FROM embeddings, range(1, 65) t(i)
        |  WHERE vec_id % 7 <> 0
        |  GROUP BY 1, 2),
        |vb AS (SELECT label, list(mean_v ORDER BY pos) AS cvec FROM mb GROUP BY 1),
        |na AS (SELECT label, count(*) AS n_base FROM embeddings GROUP BY 1),
        |nb AS (SELECT label, count(*) AS n_current FROM embeddings
        |  WHERE vec_id % 7 <> 0 GROUP BY 1)
        |SELECT va.label, na.n_base, nb.n_current,
        | list_dot_product(va.cvec, vb.cvec)
        |   / sqrt(list_dot_product(va.cvec, va.cvec))
        |   / sqrt(list_dot_product(vb.cvec, vb.cvec)) AS cos_sim
        |FROM va JOIN vb USING (label) JOIN na USING (label) JOIN nb USING (label)""".stripMargin,
    // same co-supplier graph as q_kcore; three unrolled expansions,
    // first-visit depth kept by the NOT IN anti-joins
    "q_bfs_depth" ->
      """WITH supps AS (SELECT l_orderkey, l_suppkey FROM lineitem GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.l_suppkey AS s1, b.l_suppkey AS s2
        |  FROM supps a JOIN supps b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 30),
        |e AS (SELECT s1 AS src, s2 AS dst FROM pairs
        |      UNION ALL SELECT s2, s1 FROM pairs),
        |d0 AS (SELECT DISTINCT src AS node, 0 AS depth FROM e WHERE src % 10 = 0),
        |f1 AS (SELECT DISTINCT e.dst AS node FROM e JOIN d0 ON e.src = d0.node
        |  WHERE e.dst NOT IN (SELECT node FROM d0)),
        |d1 AS (SELECT node, depth FROM d0 UNION ALL SELECT node, 1 FROM f1),
        |f2 AS (SELECT DISTINCT e.dst AS node FROM e
        |  JOIN d1 ON e.src = d1.node AND d1.depth = 1
        |  WHERE e.dst NOT IN (SELECT node FROM d1)),
        |d2 AS (SELECT node, depth FROM d1 UNION ALL SELECT node, 2 FROM f2),
        |f3 AS (SELECT DISTINCT e.dst AS node FROM e
        |  JOIN d2 ON e.src = d2.node AND d2.depth = 2
        |  WHERE e.dst NOT IN (SELECT node FROM d2))
        |SELECT node, depth FROM d2 UNION ALL SELECT node, 3 FROM f3""".stripMargin,
    // the fixpoint form needs no unrolling: recursive UNION dedups
    // (node, depth) pairs globally so the walk terminates under the
    // depth cap (matching the Spark side's maxRounds runaway bound),
    // and min(depth) keeps the first visit = shortest hop count.
    // Known oracle-side cost (accepted at graded scale): dedup is on
    // (node, depth) PAIRS, so on a cyclic graph every visited node
    // regenerates at every depth up to the cap — ~64x reachable-node
    // work regardless of true diameter. The engine stops at the empty
    // frontier; only the oracle pays the blowup. If oracle wall ever
    // binds, lower the cap to measured eccentricity + slack.
    "q_bfs_reach" ->
      """WITH RECURSIVE supps AS (SELECT l_orderkey, l_suppkey FROM lineitem GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.l_suppkey AS s1, b.l_suppkey AS s2
        |  FROM supps a JOIN supps b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 30),
        |e AS (SELECT s1 AS src, s2 AS dst FROM pairs
        |      UNION ALL SELECT s2, s1 FROM pairs),
        |walk(node, depth) AS (
        |  SELECT DISTINCT src AS node, 0 AS depth FROM e WHERE src % 10 = 0
        |  UNION
        |  SELECT e.dst, walk.depth + 1 FROM walk JOIN e ON e.src = walk.node
        |  WHERE walk.depth + 1 <= 64)
        |SELECT node, min(depth) AS depth FROM walk GROUP BY 1""".stripMargin,
    // fixed-point sqrt weights -> integer normalizer; every double op
    // is a fixed-shape expression both engines evaluate identically
    "q_mixture_temp" ->
      """WITH s AS (SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
        |  FROM documents GROUP BY 1),
        |w AS (SELECT source, avail_tokens,
        |    CAST(floor(sqrt(CAST(avail_tokens AS DOUBLE)) * 1000) AS BIGINT) AS w
        |  FROM s),
        |t AS (SELECT CAST(sum(w) AS BIGINT) AS total_w FROM w)
        |SELECT source, avail_tokens, w,
        | CAST(w AS DOUBLE) / total_w AS p,
        | CAST(floor(CAST(w AS DOUBLE) / total_w * 100000) AS BIGINT) AS target_tokens,
        | CAST(CAST(floor(CAST(w AS DOUBLE) / total_w * 100000) AS BIGINT) AS DOUBLE)
        |   / avail_tokens AS upsample
        |FROM w, t""".stripMargin,
    // the label guard replaces the self-pair filter: a vector can
    // never be its own hard negative (labels equal)
    "q_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS q_label, emb AS qe
        |  FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id,
        |   list_dot_product(q.qe, c.emb)
        |     / sqrt(list_dot_product(q.qe, q.qe))
        |     / sqrt(list_dot_product(c.emb, c.emb)) AS cos_sim
        |  FROM q JOIN e c ON c.label <> q.q_label),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |       ORDER BY cos_sim DESC, neighbor_id) AS rnk FROM scored)
        |SELECT query_id, neighbor_id, rnk, cos_sim FROM r WHERE rnk <= 10""".stripMargin,
    // 1-based inclusive slice w[i:i+1] = the same 2-char window as
    // substr(i, 2); the (n desc, pair asc) total order makes LIMIT
    // deterministic on both engines
    "q_bpe_pairs" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |p AS (SELECT unnest(list_transform(generate_series(1, length(w) - 1),
        |    i -> w[i:i+1])) AS pair
        |  FROM w WHERE length(w) >= 2)
        |SELECT pair, count(*) AS n FROM p
        |GROUP BY 1 ORDER BY n DESC, pair LIMIT 50""".stripMargin,
    // the same five exact BIGINT moments, the same final double shape
    "q_feature_corr" ->
      """WITH f AS (SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
        |    CAST(length(text) AS BIGINT) AS y
        |  FROM documents),
        |m AS (SELECT source, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM f GROUP BY 1)
        |SELECT source, n, sx, sy, sxy, sxx, syy,
        | CAST(n * sxy - sx * sy AS DOUBLE)
        |   / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |     * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS r
        |FROM m""".stripMargin,
    // vote counts replay the threshold rules; majority tie-break is
    // the lex-smallest label whose count equals the max
    "q_weak_labels" ->
      """WITH v AS (SELECT doc_id,
        |   (CASE WHEN len(regexp_extract_all(text, '\bspark\b')) >= 2 THEN 1 ELSE 0 END
        |    + CASE WHEN len(regexp_extract_all(text, '\bjoin\b')) >= 2 THEN 1 ELSE 0 END)
        |     AS c_tech,
        |   CASE WHEN len(regexp_extract_all(text, '\bcustomer\b')) >= 2 THEN 1 ELSE 0 END
        |     AS c_commerce,
        |   CASE WHEN len(regexp_extract_all(text, '\bstream\b')) >= 1 THEN 1 ELSE 0 END
        |     AS c_streaming
        |  FROM documents),
        |m AS (SELECT *, c_tech + c_commerce + c_streaming AS n_votes,
        |    greatest(c_commerce, c_streaming, c_tech) AS mx FROM v)
        |SELECT doc_id, c_commerce, c_streaming, c_tech, n_votes,
        | CASE WHEN n_votes = 0 THEN 'unlabeled'
        |      WHEN c_commerce = mx THEN 'commerce'
        |      WHEN c_streaming = mx THEN 'streaming'
        |      ELSE 'tech' END AS label,
        | CASE WHEN n_votes = 0 THEN NULL
        |      ELSE CAST(mx AS DOUBLE) / n_votes END AS confidence
        |FROM m""".stripMargin,
    "q_bm25_search" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
        |  CAST(len(list_filter(w, x -> x = 'spark')) AS BIGINT) AS tf0,
        |  CAST(len(list_filter(w, x -> x = 'join')) AS BIGINT) AS tf1,
        |  CAST(len(list_filter(w, x -> x = 'window')) AS BIGINT) AS tf2
        | FROM t),
        |s AS (SELECT count(*) AS n_docs,
        |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
        |  sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |  sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |  sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        | FROM c)
        |SELECT doc_id,
        |  ln((n_docs - df0 + 0.5) / (df0 + 0.5) + 1.0)
        |    * ((tf0 * 2.25) / (tf0 + 1.25 * (1.0 - 0.75 + 0.75 * (dl / avgdl))))
        |  + ln((n_docs - df1 + 0.5) / (df1 + 0.5) + 1.0)
        |    * ((tf1 * 2.25) / (tf1 + 1.25 * (1.0 - 0.75 + 0.75 * (dl / avgdl))))
        |  + ln((n_docs - df2 + 0.5) / (df2 + 0.5) + 1.0)
        |    * ((tf2 * 2.25) / (tf2 + 1.25 * (1.0 - 0.75 + 0.75 * (dl / avgdl))))
        |  AS score
        |FROM c, s
        |WHERE tf0 + tf1 + tf2 > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // the VARCHAR round-trips force shortest-repr semantics: Spark's
    // double→decimal cast goes through BigDecimal.valueOf (shortest
    // decimal string), while DuckDB's direct numeric casts multiply
    // in double and drift a ulp — via strings both engines convert
    // exactly (components ≥1e-9 need ≤17 fractional digits), and the
    // decimal sum is order-independent
    "q_embed_centroids" ->
      """SELECT label, i - 1 AS pos, count(*) AS n_vectors,
        | CAST(CAST(sum(CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR)
        |   AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) / count(*) AS mean_v
        |FROM embeddings, range(1, 65) t(i)
        |GROUP BY 1, 2""".stripMargin,
    // the tumbling window aligns to the epoch like the 5-minute
    // rollup, so the oracle is the same floor-bucket arithmetic
    "q_stream_window_agg" ->
      """SELECT CAST(FLOOR(epoch(ts)/300)*300 AS BIGINT) AS bucket_start, event_type,
        | count(*) AS n_events,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // the duplicated third of the feed must vanish in the dedup:
    // totals are those of the exactly-once events table
    "q_stream_dedup" ->
      """SELECT event_type, count(*) AS n_events,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value,
        | count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1""".stripMargin,
    // islands form of session_window: break at diff >= gap (strict
    //-overlap merge), end = last event + gap; equal timestamps give
    // diff 0 and always merge, so the lag tie-break is immaterial
    "q_session_window" ->
      """WITH t AS (
        | SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |  LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER
        |    (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)) AS prev_us
        | FROM events),
        |f AS (
        | SELECT user_id, ts, value,
        |  CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us >= 1800000000
        |       THEN 1 ELSE 0 END AS brk
        | FROM t),
        |s AS (
        | SELECT user_id, ts, value,
        |  SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                 ROWS UNBOUNDED PRECEDING) AS sid
        | FROM f)
        |SELECT epoch_us(min(ts)) AS session_start,
        | epoch_us(max(ts)) + 1800000000 AS session_end,
        | user_id, count(*) AS n_events,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE)
        |   AS sum_value
        |FROM s GROUP BY user_id, sid""".stripMargin,
    // BIGINT/VARCHAR min-max render identically across engines
    // (doubles would not — kept to the numeric suites)
    "q_table_profile" ->
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .map(c =>
          s"""SELECT '$c' AS col_name, count(*) AS n_rows,
             | count(*) - count($c) AS n_nulls,
             | count(DISTINCT $c) AS n_distinct,
             | CAST(min($c) AS VARCHAR) AS min_str,
             | CAST(max($c) AS VARCHAR) AS max_str
             |FROM orders""".stripMargin)
        .mkString("\nUNION ALL\n"),
    "q_interval_join" ->
      """SELECT t.user_id, t.event_id AS trigger_id, f.event_id AS follow_id,
        | CAST(t.ts AS TIMESTAMP) AS trigger_ts, CAST(f.ts AS TIMESTAMP) AS follow_ts
        |FROM events t JOIN events f
        | ON f.user_id = t.user_id
        | AND t.event_type = 'click' AND f.event_type = 'purchase'
        | AND epoch_us(CAST(f.ts AS TIMESTAMP)) >= epoch_us(CAST(t.ts AS TIMESTAMP))
        | AND epoch_us(CAST(f.ts AS TIMESTAMP))
        |     <= epoch_us(CAST(t.ts AS TIMESTAMP)) + 600000000""".stripMargin,
    "q_heavy_hitters" ->
      """SELECT source, word, count(*) AS n_occurrences
        |FROM (SELECT source, unnest(string_split(text, ' ')) AS word
        |      FROM documents)
        |WHERE word <> '' GROUP BY 1, 2""".stripMargin,
    // the same mask-and-shift interleave ladder as Layout.spreadBits
    "q_zorder_key" ->
      """WITH base AS (SELECT event_id, user_id % 4096 AS x,
        |  (epoch_ns(ts) // 3600000000000) % 4096 AS y FROM events),
        |s1 AS (SELECT event_id, x, y,
        |  (x | (x << 16)) & 281470681808895 AS ax,
        |  (y | (y << 16)) & 281470681808895 AS ay FROM base),
        |s2 AS (SELECT event_id, x, y,
        |  (ax | (ax << 8)) & 71777214294589695 AS ax,
        |  (ay | (ay << 8)) & 71777214294589695 AS ay FROM s1),
        |s3 AS (SELECT event_id, x, y,
        |  (ax | (ax << 4)) & 1085102592571150095 AS ax,
        |  (ay | (ay << 4)) & 1085102592571150095 AS ay FROM s2),
        |s4 AS (SELECT event_id, x, y,
        |  (ax | (ax << 2)) & 3689348814741910323 AS ax,
        |  (ay | (ay << 2)) & 3689348814741910323 AS ay FROM s3),
        |s5 AS (SELECT event_id, x, y,
        |  (ax | (ax << 1)) & 6148914691236517205 AS ax,
        |  (ay | (ay << 1)) & 6148914691236517205 AS ay FROM s4)
        |SELECT event_id, x, y, (ax | (ay << 1)) AS zkey FROM s5""".stripMargin,
    // the bloom is a pre-filter only: exact verify makes the result
    // the plain semi-join
    "q_bloom_semijoin" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE l_orderkey IN
        |  (SELECT o_orderkey FROM orders WHERE o_totalprice > 150000.0)""".stripMargin,
    // chained whole-partition window minimums = the ordered funnel
    "q_funnel" ->
      """WITH e AS (SELECT * FROM events
        |  WHERE ts < TIMESTAMP '2024-01-05 00:00:00'),
        |s0 AS (SELECT user_id, event_type, ts,
        |  min(CASE WHEN event_type = 'view' THEN ts END)
        |    OVER (PARTITION BY user_id) AS t0 FROM e),
        |s1 AS (SELECT *, min(CASE WHEN event_type = 'click'
        |    AND t0 IS NOT NULL AND ts >= t0 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t1 FROM s0),
        |s2 AS (SELECT *, min(CASE WHEN event_type = 'purchase'
        |    AND t1 IS NOT NULL AND ts >= t1 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t2 FROM s1),
        |u AS (SELECT user_id,
        |  max(CASE WHEN t2 IS NOT NULL THEN 3 WHEN t1 IS NOT NULL THEN 2
        |           WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS stage
        | FROM s2 GROUP BY 1)
        |SELECT stage, count(*) AS n_users FROM u GROUP BY 1""".stripMargin,
    // the q_funnel chain with the 1-hour horizon on each qualifier
    "q_funnel_windowed" ->
      """WITH e AS (SELECT * FROM events
        |  WHERE ts < TIMESTAMP '2024-01-05 00:00:00'),
        |s0 AS (SELECT user_id, event_type, ts,
        |  min(CASE WHEN event_type = 'view' THEN ts END)
        |    OVER (PARTITION BY user_id) AS t0 FROM e),
        |s1 AS (SELECT *, min(CASE WHEN event_type = 'click'
        |    AND t0 IS NOT NULL AND ts >= t0
        |    AND epoch_us(ts) <= epoch_us(t0) + 3600000000 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t1 FROM s0),
        |s2 AS (SELECT *, min(CASE WHEN event_type = 'purchase'
        |    AND t1 IS NOT NULL AND ts >= t1
        |    AND epoch_us(ts) <= epoch_us(t1) + 3600000000 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t2 FROM s1),
        |u AS (SELECT user_id,
        |  max(CASE WHEN t2 IS NOT NULL THEN 3 WHEN t1 IS NOT NULL THEN 2
        |           WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS stage
        | FROM s2 GROUP BY 1)
        |SELECT stage, count(*) AS n_users FROM u GROUP BY 1""".stripMargin,
    // dimension-sized pairwise slopes; quantile_cont == percentile
    "q_theil_sen" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type,
        |    CAST(b.n - a.n AS DOUBLE) / date_diff('day', a.day, b.day) AS slope
        |  FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
        | quantile_cont(slope, 0.5) AS sen_slope
        |FROM p GROUP BY 1""".stripMargin,
    // same ascending (x, user) rank order; all terms exact BIGINT
    "q_gini" ->
      """WITH per AS (SELECT event_type, user_id,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY x, user_id) AS i FROM per)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
        | CAST(sum(x) AS BIGINT) AS n_events,
        | (2.0 * sum(i * x)) / (count(*) * sum(x))
        |   - CAST(count(*) + 1 AS DOUBLE) / count(*) AS gini
        |FROM r GROUP BY 1""".stripMargin,
    "q_cohort_retention" ->
      """WITH c AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |  min(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS cohort_day
        | FROM events)
        |SELECT cohort_day, CAST(day - cohort_day AS INT) AS day_offset,
        | count(DISTINCT user_id) AS n_users
        |FROM c GROUP BY 1, 2""".stripMargin,
    // rational diversity: integer counts, one division each — no
    // transcendentals (Shannon entropy would round differently)
    "q_lexical_diversity" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |           FROM documents),
        |c AS (SELECT doc_id, word, count(*) AS n FROM w GROUP BY 1, 2),
        |d AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
        |       count(*) AS n_types, CAST(sum(n*(n-1)) AS BIGINT) AS rep
        |      FROM c GROUP BY 1)
        |SELECT doc_id, n_tokens, n_types,
        | CAST(n_types AS DOUBLE) / n_tokens AS ttr,
        | CASE WHEN n_tokens > 1
        |      THEN 1.0 - CAST(rep AS DOUBLE) / (n_tokens * (n_tokens - 1)) END
        |   AS simpson
        |FROM d""".stripMargin,
    // same canonical form (lower, non-alnum → space, collapse, trim)
    // over the same planted-variant union
    "q_dedup_canonical" ->
      """WITH u AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL SELECT doc_id + 1000000, upper(text) || ' !!' FROM documents),
        |c AS (SELECT doc_id,
        |   trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |        ' +', ' ', 'g')) AS canon_text
        |  FROM u)
        |SELECT min(doc_id) AS doc_id, count(*) AS n_variants, canon_text
        |FROM c GROUP BY canon_text""".stripMargin,
    // the same ⌊N/df⌋ weights, the same df-capped posting expansion
    // (capped terms still count toward totals), one final division
    "q_dedup_weighted" ->
      """WITH t AS (SELECT doc_id,
        |   unnest(list_distinct(string_split(text, ' '))) AS term FROM documents),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |w AS (SELECT term, count(*) AS df,
        |   greatest(n_docs // count(*), 1) AS weight
        |  FROM t, n GROUP BY term, n_docs),
        |tw AS (SELECT doc_id, t.term, df, weight FROM t JOIN w ON t.term = w.term),
        |tot AS (SELECT doc_id, sum(weight) AS w_total FROM tw GROUP BY 1),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.weight) AS w_shared
        |  FROM tw a JOIN tw b ON a.term = b.term AND a.doc_id < b.doc_id
        |  WHERE a.df <= 100 AND b.df <= 100
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        | CAST(w_shared AS DOUBLE) / (x.w_total + y.w_total - w_shared) AS sim
        |FROM p JOIN tot x ON x.doc_id = doc_a JOIN tot y ON y.doc_id = doc_b
        |WHERE CAST(w_shared AS DOUBLE) / (x.w_total + y.w_total - w_shared) >= 0.3""".stripMargin,
    // the sorted-neighborhood walk replayed with window functions:
    // identical signature sort, identical 3-lead window, Jaccard
    // from the same distinct-word sets
    "q_dedup_sorted" ->
      """WITH k AS (SELECT doc_id,
        |   list_distinct(string_split(text, ' ')) AS wset,
        |   array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS sig
        |  FROM documents),
        |b AS (SELECT doc_id, wset, sig, substr(sig, 1, 4) AS blk FROM k),
        |l AS (SELECT doc_id AS doc_a, wset,
        |   lead(doc_id, 1) OVER w AS nid1, lead(wset, 1) OVER w AS nw1,
        |   lead(doc_id, 2) OVER w AS nid2, lead(wset, 2) OVER w AS nw2,
        |   lead(doc_id, 3) OVER w AS nid3, lead(wset, 3) OVER w AS nw3
        |  FROM b WINDOW w AS (PARTITION BY blk ORDER BY sig, doc_id)),
        |u AS (
        | SELECT doc_a, wset, nid1 AS doc_b, nw1 AS nw FROM l WHERE nid1 IS NOT NULL
        | UNION ALL SELECT doc_a, wset, nid2, nw2 FROM l WHERE nid2 IS NOT NULL
        | UNION ALL SELECT doc_a, wset, nid3, nw3 FROM l WHERE nid3 IS NOT NULL),
        |j AS (SELECT doc_a, doc_b,
        |   CAST(len(list_filter(wset, x -> list_contains(nw, x))) AS DOUBLE) /
        |    (len(wset) + len(nw) - len(list_filter(wset, x -> list_contains(nw, x))))
        |    AS jaccard
        |  FROM u)
        |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.7""".stripMargin,
    // same per-doc-distinct 6-gram sets as the decontamination oracle
    "q_boilerplate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id,
        |   unnest(list_distinct(list_transform(generate_series(1, len(w) - 5),
        |     i -> array_to_string(w[i:i+5], ' ')))) AS gram
        |  FROM t WHERE len(w) >= 6)
        |SELECT gram, count(*) AS n_docs FROM g
        |GROUP BY 1 HAVING count(*) >= 3""".stripMargin,
    // bigrams re-derive per side; docs under two words drop out on
    // both engines (empty gram arrays explode to zero rows)
    "q_fluency" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bi AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
        |   i -> w[i] || ' ' || w[i+1])) AS bigram
        |  FROM ws WHERE len(w) >= 2),
        |hot AS (SELECT bigram FROM (SELECT bigram, count(*) AS df FROM bi
        |  GROUP BY 1) WHERE df >= 50)
        |SELECT b.doc_id, count(*) AS n_bigrams,
        | count(h.bigram) AS n_common,
        | CAST(count(h.bigram) AS DOUBLE) / count(*) AS common_ratio
        |FROM bi b LEFT JOIN hot h ON b.bigram = h.bigram
        |GROUP BY 1""".stripMargin,
    // disjoint 3-word passages (ceil(len/3) per doc, short tail
    // kept); survivors re-join ordered by passage index
    "q_passage_dedup" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ch AS (SELECT doc_id, i AS chunk_idx,
        |   array_to_string(w[(i*3+1):(i*3+3)], ' ') AS chunk
        |  FROM (SELECT doc_id, w,
        |     unnest(generate_series(0, (len(w) - 1) // 3)) AS i FROM ws)),
        |hot AS (SELECT chunk FROM (SELECT chunk, count(*) AS n_occ FROM ch
        |  GROUP BY 1) WHERE n_occ > 2)
        |SELECT c.doc_id, count(*) AS n_chunks,
        | count(h.chunk) AS n_dropped,
        | coalesce(string_agg(CASE WHEN h.chunk IS NULL THEN c.chunk END, ' '
        |   ORDER BY c.chunk_idx), '') AS clean_text
        |FROM ch c LEFT JOIN hot h ON c.chunk = h.chunk
        |GROUP BY 1""".stripMargin,
    "q_corpus_profile" ->
      """SELECT lang, source, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY CUBE (lang, source)""".stripMargin,
    // integer moving sums (DuckDB window SUM cast to BIGINT per the
    // parity rules); the average is the one division, of exact ints
    "q_daily_trend" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  count(*) AS n_events FROM events GROUP BY 1, 2)
        |SELECT event_type, day, n_events,
        | CAST(SUM(n_events) OVER w AS BIGINT) AS sum_w,
        | CAST(COUNT(*) OVER w AS BIGINT) AS n_w,
        | CAST(SUM(n_events) OVER w AS DOUBLE) / COUNT(*) OVER w AS avg_w,
        | n_events - LAG(n_events, 1) OVER
        |   (PARTITION BY event_type ORDER BY day) AS delta
        |FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day
        | ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,
    // the same dense grid: distinct types x the global day span,
    // zero-filled; generate_series (not lateral range()) over the
    // span row, cast back to DATE
    "q_densify" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  count(*) AS n_events FROM events GROUP BY 1, 2),
        |s AS (SELECT min(day) AS d_min, max(day) AS d_max FROM d),
        |g AS (SELECT event_type,
        |   CAST(unnest(generate_series(CAST(d_min AS TIMESTAMP),
        |     CAST(d_max AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT DISTINCT event_type FROM d), s)
        |SELECT g.event_type AS event_type, g.day AS day,
        | COALESCE(n_events, CAST(0 AS BIGINT)) AS n_events
        |FROM g LEFT JOIN d ON g.event_type = d.event_type
        |  AND g.day = d.day""".stripMargin,
    // identical integer RANGE frame on the epoch-day number; window
    // SUM cast BIGINT (DuckDB widens to HUGEINT), one double division
    // by the fixed window length
    "q_rolling_range" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  count(*) AS n_events FROM events GROUP BY 1, 2),
        |n AS (SELECT *, datediff('day', DATE '1970-01-01', day) AS day_num
        |  FROM d)
        |SELECT event_type, day, n_events,
        | CAST(SUM(n_events) OVER w AS BIGINT) AS sum_w,
        | CAST(COUNT(*) OVER w AS BIGINT) AS days_present,
        | CAST(SUM(n_events) OVER w AS DOUBLE) / 7.0 AS avg_per_day
        |FROM n WINDOW w AS (PARTITION BY event_type ORDER BY day_num
        | RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,
    // decimal both aggregation layers; doubles only in the final
    // casts and single division
    "q_contribution" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day, event_type,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS v
        | FROM events GROUP BY 1, 2),
        |t AS (SELECT day, CAST(SUM(v) AS DECIMAL(18,2)) AS day_total
        | FROM d GROUP BY 1)
        |SELECT d.day AS day, event_type, CAST(v AS DOUBLE) AS sum_value,
        | CAST(v AS DOUBLE) / CAST(day_total AS DOUBLE) AS share
        |FROM d JOIN t ON d.day = t.day""".stripMargin,
    // cumulative decimal window in deterministic (value desc, type)
    // order; the window input is one row per type
    "q_pareto" ->
      """WITH d AS (SELECT event_type,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS v
        | FROM events GROUP BY 1),
        |t AS (SELECT CAST(SUM(v) AS DECIMAL(18,2)) AS total FROM d),
        |c AS (SELECT event_type, v, total,
        |  CAST(SUM(v) OVER (ORDER BY v DESC, event_type
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS DECIMAL(18,2)) AS cum_v
        | FROM d, t)
        |SELECT event_type, CAST(v AS DOUBLE) AS sum_value,
        | CAST(cum_v AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share,
        | CASE WHEN CAST(cum_v AS DOUBLE) / CAST(total AS DOUBLE) <= 0.8 THEN 'A'
        |      WHEN CAST(cum_v AS DOUBLE) / CAST(total AS DOUBLE) <= 0.95 THEN 'B'
        |      ELSE 'C' END AS abc_class
        |FROM c""".stripMargin,
    // sliding DISTINCT: each deduped user-day fans out to the 7
    // window-end days it covers, then plain distinct counts per day;
    // zero-DAU days inside a live window still emit (dau=0), phantom
    // fan-out days past the observed span are clipped
    "q_active_users" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
        |uw AS (SELECT DISTINCT user_id,
        |   CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
        |     INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM ud),
        |wau AS (SELECT day, count(*) AS wau FROM uw GROUP BY 1),
        |span AS (SELECT max(day) AS d_max FROM dau)
        |SELECT wau.day AS day, COALESCE(dau, 0) AS dau, wau,
        | CAST(COALESCE(dau, 0) AS DOUBLE) / wau AS stickiness
        |FROM wau LEFT JOIN dau ON wau.day = dau.day, span
        |WHERE wau.day <= d_max""".stripMargin,
    // identical BIGINT moments (cents round-half-up, x centered on
    // the global first day), the same two trailing double divisions
    "q_trend_slope" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT min(day) AS d0 FROM d),
        |x AS (SELECT event_type, CAST(datediff('day', d0, day) AS BIGINT) AS x, y
        |  FROM d, m),
        |a AS (SELECT event_type, count(*) AS n_days,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x*x) AS BIGINT) AS sxx,
        |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x*y) AS BIGINT) AS sxy
        |  FROM x GROUP BY 1)
        |SELECT event_type, n_days,
        | CAST(n_days * sxy - sx * sy AS DOUBLE)
        |   / CAST(n_days * sxx - sx * sx AS DOUBLE) / 100.0 AS slope
        |FROM a WHERE n_days >= 2""".stripMargin,
    // the same n-scaled integer CUSUM statistic; earliest day wins
    // argmax ties in both engines
    "q_changepoint" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, day,
        |    CAST(ROW_NUMBER() OVER w1 AS BIGINT) AS k,
        |    CAST(SUM(c) OVER w1 AS BIGINT) AS cum,
        |    CAST(COUNT(*) OVER w2 AS BIGINT) AS n,
        |    CAST(SUM(c) OVER w2 AS BIGINT) AS total
        |  FROM d WINDOW w1 AS (PARTITION BY event_type ORDER BY day),
        |    w2 AS (PARTITION BY event_type)),
        |t AS (SELECT event_type, day, n, n * cum - k * total AS stat,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY abs(n * cum - k * total) DESC, day) AS rn
        |  FROM s)
        |SELECT event_type, day AS cp_day, CAST(stat AS BIGINT) AS cusum_stat,
        | n AS n_days
        |FROM t WHERE rn = 1""".stripMargin,
    // identical lead-gap holding periods (event_id breaks ts ties);
    // cents x µs sums stay BIGINT, two divisions at the end
    "q_twap" ->
      """WITH t AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v_c
        |  FROM events),
        |g AS (SELECT event_type, day, v_c,
        |    LEAD(us) OVER (PARTITION BY event_type, day
        |      ORDER BY us, event_id) - us AS dur_us
        |  FROM t)
        |SELECT event_type, day, count(*) AS n_holds,
        | CAST(CAST(SUM(v_c * dur_us) AS BIGINT) AS DOUBLE)
        |   / CAST(CAST(SUM(dur_us) AS BIGINT) AS DOUBLE) / 100.0 AS twap
        |FROM g WHERE dur_us IS NOT NULL GROUP BY 1, 2""".stripMargin,
    // the same sweep over the q_sessionize sessions; peer rows share
    // one RANGE-frame cumulative in both engines
    "q_concurrency" ->
      """WITH t AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |   LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER
        |     (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_us
        |  FROM events),
        |f AS (
        |  SELECT user_id, ts, event_id,
        |   CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
        |        THEN 1 ELSE 0 END AS new_session
        |  FROM t),
        |s AS (
        |  SELECT user_id, ts,
        |   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM f),
        |sess AS (SELECT min(ts) AS session_start, max(ts) AS session_end
        |  FROM s GROUP BY user_id, session_id),
        |p AS (SELECT epoch_us(session_start) AS us, CAST(1 AS BIGINT) AS delta
        |   FROM sess
        |  UNION ALL
        |  SELECT epoch_us(session_end) + 1, CAST(-1 AS BIGINT) FROM sess),
        |q AS (SELECT us, delta, CAST(make_timestamp(us) AS DATE) AS day FROM p),
        |r AS (SELECT day, us, delta,
        |    CAST(SUM(delta) OVER (PARTITION BY day ORDER BY us, delta) AS BIGINT) AS run
        |  FROM q),
        |c AS (SELECT day, CAST(SUM(delta) AS BIGINT) AS day_total FROM q GROUP BY 1),
        |cc AS (SELECT day, COALESCE(CAST(SUM(day_total) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |   CAST(0 AS BIGINT)) AS carry FROM c)
        |SELECT r.day AS day, max(carry + run) AS max_active,
        | count(*) AS n_points
        |FROM r JOIN cc ON r.day = cc.day GROUP BY 1""".stripMargin,
    // (rank-1)/(n-1) over a total order — rational, engine-identical
    "q_percent_rank" ->
      """SELECT doc_id, source, n_chars,
        | PERCENT_RANK() OVER (PARTITION BY source
        |   ORDER BY n_chars, doc_id) AS pr
        |FROM documents""".stripMargin,
    // the same three rounds unrolled; // is DuckDB's integer floor
    // division == Spark's div on non-negative ranks, and window-free
    // integer sums cast back from HUGEINT
    "q_pagerank" ->
      """WITH p AS (SELECT DISTINCT 'c' || o_custkey AS cust,
        |   's' || l_suppkey AS supp
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT cust AS src, supp AS dst FROM p
        |      UNION ALL SELECT supp, cust FROM p),
        |d AS (SELECT src, count(*) AS out_deg FROM e GROUP BY 1),
        |n AS (SELECT DISTINCT src AS node FROM e),
        |r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank FROM n),
        |c1 AS (SELECT e.dst AS node,
        |    CAST(SUM(r0.rank // d.out_deg) AS BIGINT) AS in_sum
        |  FROM e JOIN d ON e.src = d.src JOIN r0 ON e.src = r0.node GROUP BY 1),
        |r1 AS (SELECT n.node,
        |    150000000000 + (85 * COALESCE(in_sum, 0)) // 100 AS rank
        |  FROM n LEFT JOIN c1 ON n.node = c1.node),
        |c2 AS (SELECT e.dst AS node,
        |    CAST(SUM(r1.rank // d.out_deg) AS BIGINT) AS in_sum
        |  FROM e JOIN d ON e.src = d.src JOIN r1 ON e.src = r1.node GROUP BY 1),
        |r2 AS (SELECT n.node,
        |    150000000000 + (85 * COALESCE(in_sum, 0)) // 100 AS rank
        |  FROM n LEFT JOIN c2 ON n.node = c2.node),
        |c3 AS (SELECT e.dst AS node,
        |    CAST(SUM(r2.rank // d.out_deg) AS BIGINT) AS in_sum
        |  FROM e JOIN d ON e.src = d.src JOIN r2 ON e.src = r2.node GROUP BY 1)
        |SELECT n.node AS node,
        | CAST(150000000000 + (85 * COALESCE(in_sum, 0)) // 100 AS BIGINT) AS rank
        |FROM n LEFT JOIN c3 ON n.node = c3.node""".stripMargin,
    // plain 3-way-join triangle enumeration (a<b<c) — the naive form
    // the compact-forward plan must agree with exactly
    "q_triangles" ->
      """WITH supps AS (SELECT l_orderkey, l_suppkey FROM lineitem GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.l_suppkey AS s1, b.l_suppkey AS s2
        |  FROM supps a JOIN supps b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 30),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |  SELECT s1 AS node FROM pairs UNION ALL SELECT s2 AS node FROM pairs)
        |  GROUP BY 1),
        |tri AS (SELECT e1.s1 AS u, e1.s2 AS v, e2.s2 AS w
        |  FROM pairs e1 JOIN pairs e2 ON e1.s2 = e2.s1
        |  JOIN pairs e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2),
        |tn AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
        |  SELECT u AS node FROM tri UNION ALL SELECT v AS node FROM tri
        |  UNION ALL SELECT w AS node FROM tri) GROUP BY 1)
        |SELECT d.node, d.deg, COALESCE(tn.triangles, 0) AS triangles,
        | CASE WHEN d.deg >= 2
        |  THEN CAST(2 * COALESCE(tn.triangles, 0) AS DOUBLE)
        |    / (d.deg * (d.deg - 1))
        |  ELSE 0.0 END AS clustering
        |FROM deg d LEFT JOIN tn ON d.node = tn.node""".stripMargin,
    // the same 5 peeling rounds unrolled, like q_pagerank's form
    "q_kcore" ->
      """WITH supps AS (SELECT l_orderkey, l_suppkey FROM lineitem GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.l_suppkey AS s1, b.l_suppkey AS s2
        |  FROM supps a JOIN supps b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 30),
        |e AS (SELECT s1 AS src, s2 AS dst FROM pairs
        |      UNION ALL SELECT s2, s1 FROM pairs),
        |a0 AS (SELECT DISTINCT src AS node FROM e),
        |a1 AS (SELECT src AS node FROM e
        |  JOIN a0 x ON e.src = x.node JOIN a0 y ON e.dst = y.node
        |  GROUP BY 1 HAVING count(*) >= 6),
        |a2 AS (SELECT src AS node FROM e
        |  JOIN a1 x ON e.src = x.node JOIN a1 y ON e.dst = y.node
        |  GROUP BY 1 HAVING count(*) >= 6),
        |a3 AS (SELECT src AS node FROM e
        |  JOIN a2 x ON e.src = x.node JOIN a2 y ON e.dst = y.node
        |  GROUP BY 1 HAVING count(*) >= 6),
        |a4 AS (SELECT src AS node FROM e
        |  JOIN a3 x ON e.src = x.node JOIN a3 y ON e.dst = y.node
        |  GROUP BY 1 HAVING count(*) >= 6),
        |a5 AS (SELECT src AS node FROM e
        |  JOIN a4 x ON e.src = x.node JOIN a4 y ON e.dst = y.node
        |  GROUP BY 1 HAVING count(*) >= 6)
        |SELECT e.src AS node, CAST(count(*) AS BIGINT) AS core_deg
        |FROM e JOIN a5 x ON e.src = x.node JOIN a5 y ON e.dst = y.node
        |GROUP BY 1""".stripMargin,
    // exact-integer TV distance: |c_a*n_b - c_b*n_a| over the common
    // denominator, one double division at the end
    "q_drift" ->
      """WITH e AS (SELECT event_type,
        |   day(CAST(ts AS TIMESTAMP)) <= 15 AS in_a,
        |   GREATEST(0, LEAST(19, CAST(FLOOR((value - 0.0) / 0.5) AS INT))) AS bucket
        | FROM events),
        |b AS (SELECT event_type, bucket,
        |   CAST(count(*) FILTER (WHERE in_a) AS BIGINT) AS c_a,
        |   CAST(count(*) FILTER (WHERE NOT in_a) AS BIGINT) AS c_b
        | FROM e GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(c_a) AS BIGINT) AS n_a,
        |   CAST(sum(c_b) AS BIGINT) AS n_b FROM b GROUP BY 1)
        |SELECT b.event_type, t.n_a, t.n_b,
        | CAST(CAST(sum(abs(c_a * t.n_b - c_b * t.n_a)) AS BIGINT) AS DOUBLE)
        |   / (2 * t.n_a * t.n_b) AS tv_distance
        |FROM b JOIN t ON b.event_type = t.event_type
        |GROUP BY 1, 2, 3""".stripMargin,
    // centroids exactly as q_embed_centroids, re-assembled into
    // pos-ordered lists so list_dot_product accumulates in the same
    // left-to-right order as the engine's sequential loop
    "q_source_similarity" ->
      """WITH m AS (
        |  SELECT label, i - 1 AS pos,
        |   CAST(CAST(sum(CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR)
        |     AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) / count(*) AS mean_v
        |  FROM embeddings, range(1, 65) t(i)
        |  GROUP BY 1, 2),
        |v AS (SELECT label, list(mean_v ORDER BY pos) AS cvec FROM m GROUP BY 1)
        |SELECT a.label AS group_a, b.label AS group_b,
        | list_dot_product(a.cvec, b.cvec)
        |   / sqrt(list_dot_product(a.cvec, a.cvec))
        |   / sqrt(list_dot_product(b.cvec, b.cvec)) AS cos_sim
        |FROM v a JOIN v b ON a.label < b.label""".stripMargin,
    // bottom-k per group by (cos asc, vec_id asc) — the heap's
    // negated-score order; centroid CTE shared with q_source_similarity
    "q_centroid_outliers" ->
      """WITH m AS (
        |  SELECT label, i - 1 AS pos,
        |   CAST(CAST(sum(CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR)
        |     AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) / count(*) AS mean_v
        |  FROM embeddings, range(1, 65) t(i)
        |  GROUP BY 1, 2),
        |v AS (SELECT label, list(mean_v ORDER BY pos) AS cvec FROM m GROUP BY 1),
        |s AS (SELECT e.label, e.vec_id,
        |   list_dot_product(e.embedding::DOUBLE[], v.cvec)
        |     / sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |     / sqrt(list_dot_product(v.cvec, v.cvec)) AS cos_sim
        |  FROM embeddings e JOIN v USING (label)),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY label
        |    ORDER BY cos_sim, vec_id) AS rnk FROM s)
        |SELECT label, vec_id, rnk, cos_sim FROM r WHERE rnk <= 5""".stripMargin,
    // rational tf*N/df weight: exact BIGINT numerator, one double
    // division; (score desc, word asc) is a total order
    "q_keywords" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |ww AS (SELECT doc_id, word FROM w WHERE word <> ''),
        |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
        |  FROM ww GROUP BY 1, 2),
        |df AS (SELECT word, CAST(count(*) AS BIGINT) AS df
        |  FROM (SELECT DISTINCT doc_id, word FROM ww) GROUP BY 1),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |  FROM documents),
        |s AS (SELECT doc_id, tf.word, tf,
        |   CAST(tf * n_docs AS DOUBLE) / df AS score
        |  FROM tf JOIN df ON tf.word = df.word CROSS JOIN n),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, word) AS rnk FROM s)
        |SELECT doc_id, rnk, word, tf, score FROM r WHERE rnk <= 3""".stripMargin,
    // event_id breaks ts ties, so the lag sequence is deterministic
    "q_event_transitions" ->
      """WITH s AS (SELECT event_type, LAG(event_type, 1) OVER
        |   (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type, count(*) AS n_transitions
        |FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2""".stripMargin,
    // oracle compares payloads directly; the operator compares
    // xxhash64 of the payload (the 100 TB shuffle key) — identical
    // verdicts, same rationale as exact dedup's hash key
    "q_corpus_diff" ->
      """WITH cur AS (
        |  SELECT doc_id, CASE WHEN doc_id % 101 = 0 THEN text || ' [v2]'
        |    ELSE text END AS text
        |  FROM documents WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, 'new ' || text FROM documents
        |  WHERE doc_id % 103 = 0)
        |SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
        | CASE WHEN b.doc_id IS NULL THEN 'added'
        |      WHEN c.doc_id IS NULL THEN 'removed'
        |      WHEN b.text <> c.text THEN 'changed'
        |      ELSE 'unchanged' END AS status
        |FROM documents b FULL OUTER JOIN cur c ON b.doc_id = c.doc_id""".stripMargin,
    "q_source_overlap" ->
      """WITH t AS (SELECT source, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT DISTINCT source,
        |   unnest(list_distinct(list_transform(generate_series(1, len(w) - 7),
        |     i -> array_to_string(w[i:i+7], ' ')))) AS gram
        |  FROM t WHERE len(w) >= 8)
        |SELECT a.source AS source_a, b.source AS source_b,
        | count(*) AS n_shared_grams
        |FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,
    // cross-multiplied comparison: integer counts × half-integer
    // medians, no division anywhere; the (type, day) grid densifies
    // to the feed's day span so total-outage days (count=0) surface
    "q_anomaly_days" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  count(*) AS n_events FROM events GROUP BY 1, 2),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
        |grid AS (SELECT t.event_type,
        |   CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT DISTINCT event_type FROM d) t, span),
        |dense AS (SELECT g.event_type, g.day,
        |   COALESCE(d.n_events, 0) AS n_events
        |  FROM grid g LEFT JOIN d ON g.event_type = d.event_type
        |   AND g.day = d.day),
        |m AS (SELECT event_type, quantile_cont(n_events, 0.5) AS median_n
        | FROM dense GROUP BY 1)
        |SELECT event_type, day, n_events, median_n
        |FROM dense JOIN m USING (event_type)
        |WHERE n_events * 4 > median_n * 5 OR n_events * 5 < median_n * 4""".stripMargin,
    "q_upsert" ->
      """WITH inc AS (SELECT event_id, user_id, event_type, value * 2 AS value
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-20 00:00:00')
        |SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_id NOT IN (SELECT event_id FROM inc)
        |UNION ALL SELECT event_id, user_id, event_type, value FROM inc""".stripMargin,
    // cross-split variant of the shared shingle oracle family
    "q_dedup_incremental" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |idx AS (SELECT doc_id, w,
        |         unnest(generate_series(1, greatest(len(w)-2, 1))) AS i FROM tok),
        |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM idx),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS doc_new, b.doc_id AS doc_old, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s
        |   AND a.doc_id % 2 = 1 AND b.doc_id % 2 <> 1
        |  GROUP BY 1, 2)
        |SELECT doc_new, doc_old,
        | CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jaccard
        |FROM pairs JOIN sz x ON x.doc_id = doc_new JOIN sz y ON y.doc_id = doc_old
        |WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8""".stripMargin,
    // the same stage chain as Curate.curate, CTE by CTE
    "q_curate" ->
      """WITH m AS (SELECT doc_id, lang, source, text,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_words,
        |  1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS dup_word_ratio
        | FROM documents WHERE lang IN ('en', 'es', 'de')),
        |q AS (SELECT * FROM m
        | WHERE n_words >= 25 AND dup_word_ratio <= 0.6),
        |d AS (SELECT *, min(doc_id) OVER (PARTITION BY text) AS keep_id FROM q)
        |SELECT doc_id, lang, source, n_words, dup_word_ratio,
        | regexp_replace(
        |   regexp_replace(
        |     regexp_replace(text,
        |       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |     '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'),
        |   '\+?\d[\d() -]{6,}\d', '<NUM>', 'g') AS text
        |FROM d WHERE doc_id = keep_id""".stripMargin,
    // the salt is internal: the result IS the plain equi-join
    "q_skew_join" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, p_brand
        |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin,
    // money stays DECIMAL end-to-end at the product's scale 4; the
    // inputs are 2dp-valued so every cast is exact and there is no
    // tie-breaking rescale anywhere
    "q_revenue_by_nation" ->
      """SELECT n_name, CAST(year(o_orderdate) AS INT) AS order_year,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |   * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |   AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2""".stripMargin,
    // doubled midranks replay Spark's rank2 = 2*rank + peers - 1
    // exactly; AUC is the one double division
    "q_auc" ->
      """WITH s AS (SELECT source AS grp, CAST(n_chars AS BIGINT) AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM documents),
        |r AS (SELECT grp, pos,
        |    2*rank() OVER (PARTITION BY grp ORDER BY score)
        |      + count(*) OVER (PARTITION BY grp, score) - 1 AS rank2 FROM s),
        |a AS (SELECT grp,
        |    CAST(coalesce(sum(CASE WHEN pos = 1 THEN rank2 END), 0) AS BIGINT) AS r2_pos,
        |    CAST(sum(pos) AS BIGINT) AS n_pos,
        |    CAST(sum(1 - pos) AS BIGINT) AS n_neg FROM r GROUP BY 1)
        |SELECT grp, r2_pos, n_pos, n_neg,
        | r2_pos - n_pos*(n_pos+1) AS u2,
        | CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
        |      ELSE CAST(r2_pos - n_pos*(n_pos+1) AS DOUBLE)/(2.0*n_pos*n_neg)
        | END AS auc
        |FROM a""".stripMargin,
    // integer bucket edges and exact integer sums; the two rates are
    // the only doubles
    "q_calibration" ->
      """WITH s AS (SELECT least(CAST(floor(n_chars / 2) AS BIGINT), 1000) AS sm,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM documents),
        |b AS (SELECT least(CAST(floor(sm / 100) AS BIGINT), 9) AS bin,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(sm) AS BIGINT) AS sum_milli,
        |    CAST(sum(pos) AS BIGINT) AS n_pos
        |  FROM s GROUP BY 1)
        |SELECT bin, n, sum_milli, n_pos,
        | CAST(sum_milli AS DOUBLE)/(1000.0*n) AS mean_pred,
        | CAST(n_pos AS DOUBLE)/n AS frac_pos
        |FROM b""".stripMargin,
    // the same two keyword labelers; kappa from exact BIGINT terms
    "q_kappa" ->
      """WITH l AS (SELECT
        |   CASE WHEN len(regexp_extract_all(text, '\bcustomer\b')) > 0 THEN 'commerce'
        |        WHEN len(regexp_extract_all(text, '\bspark\b')) > 0 THEN 'tech'
        |        ELSE 'other' END AS a,
        |   CASE WHEN len(regexp_extract_all(text, '\border\b')) > 0 THEN 'commerce'
        |        WHEN len(regexp_extract_all(text, '\bstream\b')) > 0 THEN 'tech'
        |        ELSE 'other' END AS b
        |  FROM documents),
        |cm AS (SELECT a, b, count(*) AS c FROM l GROUP BY 1, 2),
        |rt AS (SELECT a AS lab, CAST(sum(c) AS BIGINT) AS rt FROM cm GROUP BY 1),
        |ct AS (SELECT b AS lab, CAST(sum(c) AS BIGINT) AS ct FROM cm GROUP BY 1),
        |s AS (SELECT CAST(coalesce(sum(rt.rt*ct.ct), 0) AS BIGINT) AS sum_rc
        |  FROM rt JOIN ct ON rt.lab = ct.lab),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |    CAST(coalesce(sum(CASE WHEN a = b THEN c END), 0) AS BIGINT) AS agree
        |  FROM cm)
        |SELECT n, agree, sum_rc,
        | CASE WHEN n*n = sum_rc THEN NULL
        |      ELSE CAST(n*agree - sum_rc AS DOUBLE)/CAST(n*n - sum_rc AS DOUBLE)
        | END AS kappa
        |FROM t, s""".stripMargin,
    // ntile under the same TOTAL (metric desc, custkey) orders; the
    // monetary sum stays DECIMAL(18,2) until the final double cast
    "q_rfm" ->
      """WITH per AS (SELECT o_custkey AS custkey, max(o_orderdate) AS last_order,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS monetary_d
        |  FROM orders GROUP BY 1),
        |t AS (SELECT custkey, last_order, frequency, monetary_d,
        |    ntile(5) OVER (ORDER BY last_order DESC, custkey) AS r_tier,
        |    ntile(5) OVER (ORDER BY frequency DESC, custkey) AS f_tier,
        |    ntile(5) OVER (ORDER BY monetary_d DESC, custkey) AS m_tier
        |  FROM per)
        |SELECT custkey, last_order, frequency,
        | CAST(monetary_d AS DOUBLE) AS monetary, r_tier, f_tier, m_tier,
        | CAST(r_tier AS VARCHAR) || CAST(f_tier AS VARCHAR)
        |   || CAST(m_tier AS VARCHAR) AS segment
        |FROM t""".stripMargin,
    // the naive basket self-join the Spark side avoids; identical
    // support counts, confidence and lift are single IEEE divisions
    "q_basket_lift" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS basket,
        |    CAST(l_partkey AS BIGINT) AS item FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n_baskets FROM items),
        |ic AS (SELECT item, CAST(count(*) AS BIGINT) AS c FROM items GROUP BY 1),
        |p AS (SELECT a.item AS item_a, b.item AS item_b,
        |    CAST(count(*) AS BIGINT) AS c_ab
        |  FROM items a JOIN items b ON a.basket = b.basket AND a.item < b.item
        |  GROUP BY 1, 2)
        |SELECT item_a, item_b, c_ab, ca.c AS c_a, cb.c AS c_b, n.n_baskets,
        | CAST(c_ab AS DOUBLE)/ca.c AS confidence,
        | CAST(n.n_baskets*c_ab AS DOUBLE)/(ca.c*cb.c) AS lift
        |FROM p JOIN ic ca ON ca.item = p.item_a
        |JOIN ic cb ON cb.item = p.item_b CROSS JOIN n
        |WHERE c_ab >= 3""".stripMargin,
    // the naive per-row pair explosion the Spark kernel avoids;
    // identical BIGINT moments, cov is the one double division
    "q_embed_cov" ->
      """WITH s AS (SELECT vec_id, embedding,
        |   CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS max_abs
        |  FROM embeddings),
        |e AS (SELECT vec_id,
        |   list_transform(embedding, x -> CASE WHEN max_abs = 0 THEN 0
        |     ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 / max_abs + 0.5) AS INT)
        |     END) AS qvec
        |  FROM s),
        |x AS (SELECT vec_id, unnest(qvec) AS v,
        |   unnest(generate_series(1, len(qvec))) AS i FROM e),
        |p AS (SELECT a.i AS i, b.i AS j,
        |   CAST(sum(CAST(a.v AS BIGINT) * b.v) AS BIGINT) AS sxy
        |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i GROUP BY 1, 2),
        |m AS (SELECT i, CAST(sum(CAST(v AS BIGINT)) AS BIGINT) AS s FROM x GROUP BY 1),
        |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e)
        |SELECT p.i, p.j, cnt.n, ma.s AS s_i, mb.s AS s_j, p.sxy,
        | CAST(cnt.n*p.sxy - ma.s*mb.s AS DOUBLE)/(CAST(cnt.n AS DOUBLE)*cnt.n) AS cov
        |FROM p JOIN m ma ON ma.i = p.i JOIN m mb ON mb.i = p.j CROSS JOIN cnt""".stripMargin,
    // dominant eigenvector: replay the exact covariance CTEs, then 8
    // unrolled power-iteration rounds — every list ordered by index,
    // every dot product left-to-right, so the doubles match the
    // driver-side iteration bit-for-bit
    "q_top_eigen" -> {
      val rounds = (1 to 8).map { k =>
        s"""w$k AS (SELECT i, list_dot_product(rl, (SELECT vl FROM v${k - 1})) AS xx FROM rows_),
           |l$k AS (SELECT list(xx ORDER BY i) AS l FROM w$k),
           |v$k AS (SELECT list_transform(l, y -> y / sqrt(list_dot_product(l, l))) AS vl FROM l$k)""".stripMargin
      }.mkString(",\n")
      """WITH s AS (SELECT vec_id, embedding,
        |   CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS max_abs
        |  FROM embeddings),
        |e AS (SELECT vec_id,
        |   list_transform(embedding, x -> CASE WHEN max_abs = 0 THEN 0
        |     ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 / max_abs + 0.5) AS INT)
        |     END) AS qvec
        |  FROM s),
        |x AS (SELECT vec_id, unnest(qvec) AS v,
        |   unnest(generate_series(1, len(qvec))) AS i FROM e),
        |p AS (SELECT a.i AS i, b.i AS j,
        |   CAST(sum(CAST(a.v AS BIGINT) * b.v) AS BIGINT) AS sxy
        |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i GROUP BY 1, 2),
        |m AS (SELECT i, CAST(sum(CAST(v AS BIGINT)) AS BIGINT) AS s FROM x GROUP BY 1),
        |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
        |tri AS (SELECT p.i, p.j,
        |   CAST(cnt.n*p.sxy - ma.s*mb.s AS DOUBLE)/(CAST(cnt.n AS DOUBLE)*cnt.n) AS cov
        |  FROM p JOIN m ma ON ma.i = p.i JOIN m mb ON mb.i = p.j CROSS JOIN cnt),
        |sym AS (SELECT i, j, cov FROM tri
        |        UNION ALL SELECT j, i, cov FROM tri WHERE i <> j),
        |rows_ AS (SELECT i, list(cov ORDER BY j) AS rl FROM sym GROUP BY i),
        |dd AS (SELECT CAST(max(i) AS INT) AS d FROM rows_),
        |v0 AS (SELECT list_transform(generate_series(1, d),
        |   q -> 1.0 / sqrt(CAST(d AS DOUBLE))) AS vl FROM dd),
        |""".stripMargin + rounds + """,
        |wf AS (SELECT i, list_dot_product(rl, (SELECT vl FROM v8)) AS xx FROM rows_),
        |lf AS (SELECT list(xx ORDER BY i) AS l FROM wf)
        |SELECT CAST(r.i AS INT) AS pos,
        | (SELECT vl FROM v8)[r.i] AS component,
        | (SELECT list_dot_product((SELECT vl FROM v8), l) FROM lf) AS eigenvalue
        |FROM rows_ r""".stripMargin
    },
    // the same integer sign hash; every term BIGINT so pv is exact
    "q_rand_proj" ->
      """WITH s AS (SELECT vec_id, embedding,
        |   CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS max_abs
        |  FROM embeddings),
        |e AS (SELECT vec_id,
        |   list_transform(embedding, x -> CASE WHEN max_abs = 0 THEN 0
        |     ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 / max_abs + 0.5) AS INT)
        |     END) AS qvec
        |  FROM s),
        |ks AS (SELECT unnest(generate_series(1, 16)) AS k)
        |SELECT vec_id, k,
        | CAST(list_sum(list_transform(generate_series(1, len(qvec)),
        |   j -> CAST(qvec[j] AS BIGINT)
        |     * CASE WHEN ((j*73856093 + k*19349663) % 97) % 2 = 0
        |            THEN 1 ELSE -1 END)) AS BIGINT) AS pv
        |FROM e CROSS JOIN ks""".stripMargin,
    // integer cross-multiplied thresholds; the state carry is the
    // same IGNORE NULLS running window
    // two unrolled HITS rounds; authorities sum hubs over in-edges,
    // hubs sum the refreshed authorities over out-edges
    "q_hits" ->
      """WITH p AS (SELECT DISTINCT 'c' || o_custkey AS src,
        |   's' || l_suppkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |n AS (SELECT src AS node FROM p UNION SELECT dst FROM p),
        |a1 AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS authority
        |  FROM p GROUP BY 1),
        |na1 AS (SELECT n.node, COALESCE(a1.authority, 0) AS authority
        |  FROM n LEFT JOIN a1 ON n.node = a1.node),
        |h1 AS (SELECT p.src AS node, CAST(SUM(na1.authority) AS BIGINT) AS hub
        |  FROM p JOIN na1 ON p.dst = na1.node GROUP BY 1),
        |nh1 AS (SELECT n.node, COALESCE(h1.hub, 0) AS hub
        |  FROM n LEFT JOIN h1 ON n.node = h1.node),
        |a2 AS (SELECT p.dst AS node, CAST(SUM(nh1.hub) AS BIGINT) AS authority
        |  FROM p JOIN nh1 ON p.src = nh1.node GROUP BY 1),
        |na2 AS (SELECT n.node, COALESCE(a2.authority, 0) AS authority
        |  FROM n LEFT JOIN a2 ON n.node = a2.node),
        |h2 AS (SELECT p.src AS node, CAST(SUM(na2.authority) AS BIGINT) AS hub
        |  FROM p JOIN na2 ON p.dst = na2.node GROUP BY 1)
        |SELECT n.node, COALESCE(h2.hub, 0) AS hub, na2.authority
        |FROM n LEFT JOIN h2 ON n.node = h2.node
        |JOIN na2 ON n.node = na2.node""".stripMargin,
    // identical portable fold: per-word char hash -> trigram combine
    // -> window-of-4 minima -> distinct values -> shared-fp counts
    "q_dedup_winnow" ->
      """WITH h AS (SELECT doc_id,
        |  list_transform(string_split(text, ' '),
        |    w -> list_reduce(list_prepend(0::BIGINT,
        |      list_transform(list_filter(string_split(w, ''), ch -> ch <> ''),
        |        ch -> unicode(ch)::BIGINT)),
        |      (a, c) -> (a*127 + c) % 2147483647)) AS wh
        |  FROM documents),
        |g AS (SELECT doc_id,
        |  list_transform(generate_series(1, len(wh) - 2),
        |    i -> ((wh[i]*131 + wh[i+1]) % 2147483647 * 131 + wh[i+2])
        |      % 2147483647) AS gh
        |  FROM h WHERE len(wh) >= 3),
        |w AS (SELECT doc_id,
        |  list_distinct(list_transform(generate_series(1, len(gh) - 3),
        |    j -> list_min(gh[j:j+3]))) AS fps
        |  FROM g WHERE len(gh) >= 4),
        |p AS (SELECT doc_id, unnest(fps) AS fp FROM w)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | CAST(count(*) AS BIGINT) AS n_shared
        |FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin,
    // the same edge/hold ladder at absolute thresholds, replayed with
    // a last-non-null window
    "q_stream_alarm" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY 1, 2),
        |e AS (SELECT *, CASE WHEN n_events > 73 THEN 'on'
        |    WHEN n_events < 60 THEN 'off' END AS edge FROM d)
        |SELECT event_type, day, n_events,
        | coalesce(last_value(edge IGNORE NULLS) OVER (
        |   PARTITION BY event_type ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 'off') AS alarm
        |FROM e""".stripMargin,
    "q_alarm_hysteresis" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(n_events) AS BIGINT) AS total,
        |    CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY 1),
        |e AS (SELECT d.event_type, d.day, d.n_events,
        |    CASE WHEN d.n_events*t.n_days*5 > t.total*6 THEN 'on'
        |         WHEN d.n_events*t.n_days*5 < t.total*4 THEN 'off' END AS edge
        |  FROM daily d JOIN tot t USING (event_type))
        |SELECT event_type, day, n_events, edge,
        | coalesce(last_value(edge IGNORE NULLS) OVER (
        |   PARTITION BY event_type ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 'off') AS alarm
        |FROM e""".stripMargin,
    // two unrolled synchronous LPA rounds; majority = row_number
    // under the same (count desc, label) total order
    "q_label_prop" ->
      """WITH supps AS (SELECT l_orderkey, l_suppkey FROM lineitem GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.l_suppkey AS s1, b.l_suppkey AS s2
        |  FROM supps a JOIN supps b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 30),
        |e AS (SELECT s1 AS src, s2 AS dst FROM pairs
        |      UNION ALL SELECT s2, s1 FROM pairs),
        |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
        |c1 AS (SELECT e.dst AS node, l.label, count(*) AS c
        |  FROM e JOIN l0 l ON e.src = l.node GROUP BY 1, 2),
        |l1 AS (SELECT node, label FROM (SELECT node, label,
        |    row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
        |  FROM c1) WHERE rn = 1),
        |c2 AS (SELECT e.dst AS node, l.label, count(*) AS c
        |  FROM e JOIN l1 l ON e.src = l.node GROUP BY 1, 2),
        |l2 AS (SELECT node, label FROM (SELECT node, label,
        |    row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
        |  FROM c2) WHERE rn = 1)
        |SELECT node, label FROM l2""".stripMargin,
    // the same two leads under the (ts, event_id) total order; the
    // (n desc, path) order makes LIMIT deterministic on both engines
    "q_event_paths" ->
      """WITH s AS (SELECT user_id, event_type,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (SELECT event_type || '>' || e2 || '>' || e3 AS path FROM s
        |  WHERE e3 IS NOT NULL)
        |SELECT path, CAST(count(*) AS BIGINT) AS n FROM p
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin,
    // same thinning (day-of-month % 5), same lag-based island edges
    "q_data_gaps" ->
      """WITH days AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day
        |  FROM events WHERE date_part('day', ts) % 5 <> 0),
        |l AS (SELECT event_type, day,
        |    lag(day, 1) OVER (PARTITION BY event_type ORDER BY day) AS prev_day
        |  FROM days)
        |SELECT event_type, prev_day + 1 AS gap_start, day - 1 AS gap_end,
        | CAST(date_diff('day', prev_day, day) - 1 AS INT) AS gap_days
        |FROM l WHERE date_diff('day', prev_day, day) > 1""".stripMargin,
    // both rankers replayed with their graded oracles' exact scoring
    // and (cos desc, id) tie-break, so the sets are deterministic
    "q_ann_recall" ->
      """WITH fe AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |fq AS (SELECT vec_id AS query_id, emb AS qe FROM fe WHERE vec_id < 5),
        |fs AS (SELECT fq.query_id, c.vec_id AS neighbor_id,
        |   list_dot_product(fq.qe, c.emb)
        |     / sqrt(list_dot_product(fq.qe, fq.qe))
        |     / sqrt(list_dot_product(c.emb, c.emb)) AS cos_sim
        |  FROM fq JOIN fe c ON c.vec_id <> fq.query_id),
        |ex AS (SELECT query_id, neighbor_id FROM (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, neighbor_id) AS rnk FROM fs)
        |  WHERE rnk <= 10),
        |s AS (SELECT vec_id, embedding,
        |   CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS max_abs
        |  FROM embeddings),
        |e AS (SELECT vec_id,
        |   list_transform(embedding, x -> CASE WHEN max_abs = 0 THEN 0
        |     ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 / max_abs + 0.5) AS INT)
        |     END) AS qv
        |  FROM s),
        |d AS (SELECT vec_id, qv::DOUBLE[] AS qd FROM e),
        |q AS (SELECT vec_id AS query_id, qd AS qe FROM d WHERE vec_id < 5),
        |qs AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |   list_dot_product(q.qe, c.qd)
        |     / sqrt(list_dot_product(q.qe, q.qe))
        |     / sqrt(list_dot_product(c.qd, c.qd)) AS cos_sim
        |  FROM q JOIN d c ON c.vec_id <> q.query_id),
        |ap AS (SELECT query_id, neighbor_id FROM (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, neighbor_id) AS rnk FROM qs)
        |  WHERE rnk <= 10)
        |SELECT ex.query_id, CAST(count(ap.neighbor_id) AS BIGINT) AS n_overlap,
        | 10 AS k, CAST(count(ap.neighbor_id) AS DOUBLE)/10 AS recall
        |FROM ex LEFT JOIN ap ON ap.query_id = ex.query_id
        |  AND ap.neighbor_id = ex.neighbor_id
        |GROUP BY 1""".stripMargin,
    // the same first-view anchor and first-qualifying-purchase pick;
    // quantile_cont interpolates exactly like Spark percentile
    "q_time_to_convert" ->
      """WITH f AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_from
        |  FROM events GROUP BY 1),
        |c AS (SELECT e.user_id, f.t_from, min(e.ts) AS t_to
        |  FROM events e JOIN f ON e.user_id = f.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= f.t_from GROUP BY 1, 2),
        |d AS (SELECT epoch_us(CAST(t_to AS TIMESTAMP))
        |    - epoch_us(CAST(t_from AS TIMESTAMP)) AS delta_us FROM c)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        | CAST(min(delta_us) AS BIGINT) AS min_us,
        | CAST(max(delta_us) AS BIGINT) AS max_us,
        | quantile_cont(delta_us, 0.5) AS p50_us,
        | quantile_cont(delta_us, 0.9) AS p90_us
        |FROM d""".stripMargin,
    // first-seen day per user, then the running total over the
    // days-sized table
    "q_adoption" ->
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS day
        |  FROM events GROUP BY 1),
        |d AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users FROM f GROUP BY 1)
        |SELECT day, new_users,
        | CAST(sum(new_users) OVER (ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM d""".stripMargin,
    // same late-month error blackout; staleness is exact date math
    "q_staleness" ->
      """WITH e AS (SELECT * FROM events
        |  WHERE NOT (event_type = 'error' AND date_part('day', ts) > 20)),
        |p AS (SELECT event_type, max(CAST(ts AS DATE)) AS last_day,
        |    CAST(count(*) AS BIGINT) AS n_events FROM e GROUP BY 1),
        |a AS (SELECT max(last_day) AS feed_day FROM p)
        |SELECT p.event_type, p.last_day, p.n_events, a.feed_day,
        | CAST(date_diff('day', p.last_day, a.feed_day) AS INT) AS days_stale,
        | date_diff('day', p.last_day, a.feed_day) > 0 AS is_stale
        |FROM p CROSS JOIN a""".stripMargin,
    // exact per-hour counts; argmax under the same (n desc, hr) order
    "q_busy_hour" ->
      """WITH h AS (SELECT event_type, CAST(date_part('hour', ts) AS INT) AS hr,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |t AS (SELECT *, CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n_total,
        |    row_number() OVER (PARTITION BY event_type ORDER BY n DESC, hr) AS rn
        |  FROM h)
        |SELECT event_type, hr AS busy_hr, n AS n_busy, n_total,
        | CAST(n AS DOUBLE)/n_total AS share FROM t WHERE rn = 1""".stripMargin,
    // Spark's dayofweek-1 == DuckDB dow (0 = Sunday)
    "q_dow_profile" ->
      """WITH d AS (SELECT event_type, CAST(date_part('dow', ts) AS INT) AS dow,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_total FROM d GROUP BY 1)
        |SELECT d.event_type, d.dow, d.n, t.n_total,
        | CAST(d.n AS DOUBLE)/t.n_total AS share
        |FROM d JOIN t USING (event_type)""".stripMargin,
    // same >= 30 co-supplier edges as the triangle/kcore oracles
    "q_degree_dist" ->
      """WITH supps AS (SELECT l_orderkey, l_suppkey FROM lineitem GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.l_suppkey AS s1, b.l_suppkey AS s2
        |  FROM supps a JOIN supps b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 30),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |  SELECT s1 AS node FROM pairs UNION ALL SELECT s2 FROM pairs)
        |  GROUP BY 1),
        |h AS (SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes FROM deg GROUP BY 1),
        |t AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS n_total FROM h)
        |SELECT h.deg, h.n_nodes, t.n_total,
        | CAST(h.n_nodes AS DOUBLE)/t.n_total AS share
        |FROM h CROSS JOIN t""".stripMargin,
    // the verified MinHash pair set IS the exact set at the graded
    // (128, 32) config — q_dedup_minhash_v pins that equality, and
    // this QA row is exactly what breaks if blocking recall drops
    "q_dedup_recall" -> (shingleCtes + ",\n" +
      """p2 AS (SELECT doc_a, doc_b FROM pairs
        |  JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
        |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p2)
        |SELECT n AS n_exact, n AS n_found, n AS n_candidates,
        | 1.0 AS recall, 1.0 AS precision FROM c""".stripMargin),
    // self-join of the daily table on (type, day-7); only days where
    // both actual and forecast exist are scored
    "q_forecast_baseline" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2)
        |SELECT a.event_type, a.day, a.n AS n_actual, f.n AS n_forecast,
        | abs(a.n - f.n) AS abs_err,
        | CAST(abs(a.n - f.n) AS DOUBLE) / a.n AS ape
        |FROM d a JOIN d f ON a.event_type = f.event_type
        | AND date_diff('day', f.day, a.day) = 7""".stripMargin,
    // one lag over (type, user) classifies every user-week; churned
    // and retention ride a lag over the |types|x|weeks| aggregate
    "q_growth_accounting" ->
      """WITH uw AS (SELECT DISTINCT event_type, user_id,
        |    CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk FROM events),
        |l AS (SELECT event_type, user_id, wk,
        |    lag(wk) OVER (PARTITION BY event_type, user_id ORDER BY wk) AS prev_wk
        |  FROM uw),
        |a AS (SELECT event_type, wk, CAST(count(*) AS BIGINT) AS active,
        |    CAST(sum(CASE WHEN date_diff('day', prev_wk, wk) = 7
        |      THEN 1 ELSE 0 END) AS BIGINT) AS retained,
        |    CAST(sum(CASE WHEN prev_wk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS new_users,
        |    CAST(sum(CASE WHEN prev_wk IS NOT NULL
        |      AND date_diff('day', prev_wk, wk) > 7
        |      THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
        |  FROM l GROUP BY 1, 2)
        |SELECT event_type, wk, active, retained, new_users, resurrected,
        | lag(active) OVER (PARTITION BY event_type ORDER BY wk) - retained
        |   AS churned,
        | CAST(retained AS DOUBLE)
        |   / lag(active) OVER (PARTITION BY event_type ORDER BY wk)
        |   AS retention_rate
        |FROM a""".stripMargin,
    // rank mapping is pure integer ceil-division — no interpolation
    "q_quantile_norm" ->
      """WITH s AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS score
        |  FROM documents),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY source) AS n_src FROM s),
        |p AS (SELECT score AS pool_score,
        |    row_number() OVER (ORDER BY score, doc_id) AS prk FROM s),
        |t AS (SELECT count(*) AS n_pool FROM s)
        |SELECT r.doc_id, r.source, r.score, p.pool_score AS norm_score
        |FROM r CROSS JOIN t
        |JOIN p ON p.prk = (r.rk * t.n_pool + r.n_src - 1) // r.n_src""".stripMargin,
    // the band join replays Spark's {b, b+1} posting replication;
    // DuckDB's unbounded levenshtein equals the bounded one <= 20
    "q_dedup_edit" ->
      """WITH d AS (SELECT doc_id, text, string_split(text, ' ')[1] AS tok0,
        |    length(text) // 32 AS b FROM documents),
        |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    levenshtein(a.text, b.text) AS dist
        |  FROM d a JOIN d b ON a.tok0 = b.tok0
        |   AND b.b BETWEEN a.b - 1 AND a.b + 1
        |   AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(dist AS BIGINT) AS dist
        |FROM c WHERE dist <= 20""".stripMargin,
    // q_pagerank's unrolled replay with the teleport mass moved to
    // the custkey%100=0 seed flag
    "q_pagerank_seeded" ->
      """WITH p AS (SELECT DISTINCT 'c' || o_custkey AS cust,
        |   's' || l_suppkey AS supp
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT cust AS src, supp AS dst FROM p
        |      UNION ALL SELECT supp, cust FROM p),
        |d AS (SELECT src, count(*) AS out_deg FROM e GROUP BY 1),
        |n AS (SELECT DISTINCT src AS node FROM e),
        |sd AS (SELECT DISTINCT 'c' || o_custkey AS node FROM orders
        |  WHERE o_custkey % 100 = 0),
        |n2 AS (SELECT n.node,
        |    CASE WHEN sd.node IS NULL THEN 0 ELSE 1 END AS is_seed
        |  FROM n LEFT JOIN sd ON n.node = sd.node),
        |r0 AS (SELECT node, CAST(is_seed AS BIGINT) * 1000000000000 AS rank
        |  FROM n2),
        |c1 AS (SELECT e.dst AS node,
        |    CAST(SUM(r0.rank // d.out_deg) AS BIGINT) AS in_sum
        |  FROM e JOIN d ON e.src = d.src JOIN r0 ON e.src = r0.node GROUP BY 1),
        |r1 AS (SELECT n2.node,
        |    CAST(is_seed AS BIGINT) * 150000000000
        |      + (85 * COALESCE(in_sum, 0)) // 100 AS rank
        |  FROM n2 LEFT JOIN c1 ON n2.node = c1.node),
        |c2 AS (SELECT e.dst AS node,
        |    CAST(SUM(r1.rank // d.out_deg) AS BIGINT) AS in_sum
        |  FROM e JOIN d ON e.src = d.src JOIN r1 ON e.src = r1.node GROUP BY 1),
        |r2 AS (SELECT n2.node,
        |    CAST(is_seed AS BIGINT) * 150000000000
        |      + (85 * COALESCE(in_sum, 0)) // 100 AS rank
        |  FROM n2 LEFT JOIN c2 ON n2.node = c2.node),
        |c3 AS (SELECT e.dst AS node,
        |    CAST(SUM(r2.rank // d.out_deg) AS BIGINT) AS in_sum
        |  FROM e JOIN d ON e.src = d.src JOIN r2 ON e.src = r2.node GROUP BY 1)
        |SELECT n2.node,
        | CAST(CAST(is_seed AS BIGINT) * 150000000000
        |   + (85 * COALESCE(in_sum, 0)) // 100 AS BIGINT) AS rank
        |FROM n2 LEFT JOIN c3 ON n2.node = c3.node""".stripMargin,
    // same portable mod-reduced row hash; DuckDB's HUGEINT sum casts
    // back to BIGINT (every term < 2^42, so no wrap on either side)
    "q_table_checksum" ->
      """SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum((event_id % 1000003) * 2097143
        |   + (user_id % 1000033) * 4093
        |   + epoch_us(ts) % 1000000007) AS BIGINT) AS checksum
        |FROM events GROUP BY 1""".stripMargin,
    // same anchored RANGE frame: count of events in (t-24h, t]
    "q_burst_users" ->
      """WITH w AS (SELECT user_id,
        |    count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |      RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW) AS c
        |  FROM events)
        |SELECT user_id, CAST(max(c) AS BIGINT) AS max_burst,
        | CAST(count(*) AS BIGINT) AS n_events
        |FROM w GROUP BY 1""".stripMargin,
    // verified >= 0.8 Jaccard pairs rolled up to unordered source pairs
    "q_dup_matrix" -> (shingleCtes + ",\n" +
      """p2 AS (SELECT doc_a, doc_b FROM pairs
        |  JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
        |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8)
        |SELECT least(da.source, db.source) AS source_a,
        | greatest(da.source, db.source) AS source_b,
        | CAST(count(*) AS BIGINT) AS n_pairs
        |FROM p2 JOIN documents da ON da.doc_id = doc_a
        | JOIN documents db ON db.doc_id = doc_b
        |GROUP BY 1, 2""".stripMargin),
    // q_sessionize's CTE chain rolled up per day; durations in exact µs
    "q_session_stats" ->
      """WITH t AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |   LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER
        |     (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
        |     AS prev_us
        |  FROM events),
        |f AS (
        |  SELECT user_id, ts, event_id,
        |   CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
        |        THEN 1 ELSE 0 END AS new_session
        |  FROM t),
        |s AS (
        |  SELECT user_id, ts,
        |   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM f),
        |g AS (
        |  SELECT user_id, session_id, count(*) AS n_events,
        |   epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us,
        |   CAST(min(ts) AS DATE) AS day
        |  FROM s GROUP BY 1, 2)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_sessions,
        | CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_bounce,
        | CAST(sum(dur_us) AS BIGINT) AS total_dur_us,
        | CAST(max(dur_us) AS BIGINT) AS max_dur_us,
        | CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*) AS bounce_rate,
        | CAST(sum(dur_us) AS DOUBLE) / count(*) AS avg_dur_us
        |FROM g GROUP BY 1""".stripMargin,
    // same integer width model: 28-byte fixed + variable col lengths;
    // ceil-division via (x + t - 1) // t
    "q_compaction_plan" ->
      """WITH w AS (SELECT CAST(ts AS DATE) AS day,
        |    28 + length(event_type) + coalesce(length(props), 0) AS wb
        |  FROM events),
        |d AS (SELECT day, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(wb) AS BIGINT) AS est_bytes FROM w GROUP BY 1)
        |SELECT day, n_rows, est_bytes,
        | (est_bytes + 65535) // 65536 AS n_files,
        | (n_rows + (est_bytes + 65535) // 65536 - 1)
        |   // ((est_bytes + 65535) // 65536) AS rows_per_file
        |FROM d""".stripMargin,
    // quantile_cont == Spark percentile (B9 parity) over exact day lags
    "q_ship_lag" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
        | CAST(min(date_diff('day', CAST(o_orderdate AS DATE),
        |   CAST(l_shipdate AS DATE))) AS BIGINT) AS min_days,
        | CAST(max(date_diff('day', CAST(o_orderdate AS DATE),
        |   CAST(l_shipdate AS DATE))) AS BIGINT) AS max_days,
        | quantile_cont(date_diff('day', CAST(o_orderdate AS DATE),
        |   CAST(l_shipdate AS DATE)), 0.5) AS p50_days,
        | quantile_cont(date_diff('day', CAST(o_orderdate AS DATE),
        |   CAST(l_shipdate AS DATE)), 0.95) AS p95_days
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    // grams collapse to their first doc; w[i:i+2] is 3 words inclusive
    "q_vocab_growth" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id,
        |   unnest(list_distinct(list_transform(generate_series(1, len(w) - 2),
        |     i -> array_to_string(w[i:i+2], ' ')))) AS gram
        |  FROM t WHERE len(w) >= 3),
        |f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1),
        |h AS (SELECT first_doc // 50 AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_new FROM f GROUP BY 1)
        |SELECT bucket, n_new,
        | CAST(sum(n_new) OVER (ORDER BY bucket) AS BIGINT) AS vocab_cum
        |FROM h""".stripMargin,
    // the same 3 power-iteration rounds unrolled, q_pagerank's form;
    // // on positives == Spark's div; absorbing states carry mass
    "q_markov_stationary" ->
      """WITH l AS (SELECT event_type, LAG(event_type, 1) OVER
        |   (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |c AS (SELECT prev_type AS i, event_type AS j,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT i, CAST(sum(n) AS BIGINT) AS rt FROM c GROUP BY 1),
        |st AS (SELECT i AS state FROM c UNION SELECT j FROM c),
        |p0 AS (SELECT state, CAST(1000000000000 AS BIGINT) AS mass FROM st),
        |g1 AS (SELECT c.j AS state,
        |    CAST(SUM((p.mass * c.n) // r.rt) AS BIGINT) AS m
        |  FROM c JOIN p0 p ON p.state = c.i JOIN r ON r.i = c.i GROUP BY 1),
        |p1 AS (SELECT st.state, CAST(COALESCE(g1.m, 0) +
        |    CASE WHEN r.rt IS NULL THEN p0.mass ELSE 0 END AS BIGINT) AS mass
        |  FROM st LEFT JOIN g1 ON g1.state = st.state
        |    LEFT JOIN r ON r.i = st.state JOIN p0 ON p0.state = st.state),
        |g2 AS (SELECT c.j AS state,
        |    CAST(SUM((p.mass * c.n) // r.rt) AS BIGINT) AS m
        |  FROM c JOIN p1 p ON p.state = c.i JOIN r ON r.i = c.i GROUP BY 1),
        |p2 AS (SELECT st.state, CAST(COALESCE(g2.m, 0) +
        |    CASE WHEN r.rt IS NULL THEN p1.mass ELSE 0 END AS BIGINT) AS mass
        |  FROM st LEFT JOIN g2 ON g2.state = st.state
        |    LEFT JOIN r ON r.i = st.state JOIN p1 ON p1.state = st.state),
        |g3 AS (SELECT c.j AS state,
        |    CAST(SUM((p.mass * c.n) // r.rt) AS BIGINT) AS m
        |  FROM c JOIN p2 p ON p.state = c.i JOIN r ON r.i = c.i GROUP BY 1),
        |p3 AS (SELECT st.state, CAST(COALESCE(g3.m, 0) +
        |    CASE WHEN r.rt IS NULL THEN p2.mass ELSE 0 END AS BIGINT) AS mass
        |  FROM st LEFT JOIN g3 ON g3.state = st.state
        |    LEFT JOIN r ON r.i = st.state JOIN p2 ON p2.state = st.state)
        |SELECT state, mass, CAST(mass AS DOUBLE) /
        | (SELECT CAST(SUM(mass) AS DOUBLE) FROM p3) AS share
        |FROM p3""".stripMargin,
    // quantile_cont == Spark percentile (B9 parity); round-half-up
    // cents sums, one double division per mean
    "q_winsorized" ->
      """WITH b AS (SELECT event_type,
        |   quantile_cont(value, 0.05) AS lo_bound,
        |   quantile_cont(value, 0.95) AS hi_bound
        |  FROM events GROUP BY 1),
        |cl AS (SELECT e.event_type, CAST(e.ts AS DATE) AS day, e.value,
        |   LEAST(GREATEST(e.value, b.lo_bound), b.hi_bound) AS clip,
        |   b.lo_bound, b.hi_bound
        |  FROM events e JOIN b ON e.event_type = b.event_type)
        |SELECT event_type, day, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |   / (count(*) * 100.0) AS raw_avg,
        | CAST(SUM(CAST(floor(clip * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |   / (count(*) * 100.0) AS winsorized_avg,
        | MIN(lo_bound) AS lo_bound, MAX(hi_bound) AS hi_bound
        |FROM cl GROUP BY 1, 2""".stripMargin,
    // the oracle renders the identical fixed-width lines with
    // lpad/rpad, re-slices them with substr + trim, and aggregates —
    // both the render and the positional parse must round-trip
    "q_fixed_width" ->
      """WITH lines AS (SELECT
        |   lpad(CAST(o_orderkey AS VARCHAR), 12, '0') || o_orderstatus ||
        |   lpad(CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
        |     AS VARCHAR), 15, '0') ||
        |   rpad(o_orderpriority, 16, ' ') AS value
        |  FROM orders),
        |p AS (SELECT trim(substr(value, 13, 1)) AS status,
        |   CAST(trim(substr(value, 14, 15)) AS BIGINT) AS cents,
        |   trim(substr(value, 29, 16)) AS priority
        |  FROM lines)
        |SELECT status, priority, CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM p GROUP BY 1, 2""".stripMargin,
    // identical fixed-order float formula; banding compares the same
    // per-doc double on both sides
    "q_readability" ->
      """WITH r AS (SELECT source,
        |   len(string_split(text, ' ')) AS w,
        |   GREATEST(1, len(regexp_extract_all(text, '[.!?]+'))) AS s,
        |   len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS syl
        |  FROM documents),
        |f AS (SELECT source,
        |   206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
        |     - 84.6 * (CAST(syl AS DOUBLE) / w) AS flesch
        |  FROM r)
        |SELECT source,
        | CASE WHEN flesch >= 60.0 THEN 'easy'
        |      WHEN flesch >= 30.0 THEN 'standard'
        |      ELSE 'hard' END AS band,
        | CAST(count(*) AS BIGINT) AS n_docs
        |FROM f GROUP BY 1, 2""".stripMargin,
    // same deterministic corruption (doc_id mod ladder) + the same
    // three artifact regex classes replayed in RE2
    "q_encoding_qa" ->
      """WITH d AS (SELECT source,
        |   CASE WHEN doc_id % 13 = 0 THEN replace(text, 'a ', 'Ã¡ ')
        |        WHEN doc_id % 17 = 0 THEN text || ' �'
        |        ELSE text END AS text
        |  FROM documents),
        |m AS (SELECT source,
        |   CAST(len(regexp_extract_all(text, '[ÃÂ]')) AS BIGINT) AS n_moji,
        |   CAST(len(regexp_extract_all(text, '�')) AS BIGINT) AS n_repl,
        |   CAST(len(regexp_extract_all(text,
        |     '[\x00-\x08\x0B\x0C\x0E-\x1F]')) AS BIGINT) AS n_ctrl
        |  FROM d)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(SUM(CASE WHEN n_moji + n_repl + n_ctrl > 0 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_flagged,
        | CAST(SUM(n_moji) AS BIGINT) AS mojibake_chars,
        | CAST(SUM(n_repl) AS BIGINT) AS replacement_chars,
        | CAST(SUM(n_ctrl) AS BIGINT) AS control_chars,
        | CAST(SUM(CASE WHEN n_moji + n_repl + n_ctrl > 0 THEN 1 ELSE 0 END)
        |   AS DOUBLE) / count(*) AS flagged_rate
        |FROM m GROUP BY 1""".stripMargin,
    // B15's integer-moment discipline; ceil-division runs on
    // positives only so // == div; -1 = never on this fit
    "q_capacity_forecast" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |d0 AS (SELECT MIN(day) AS d0 FROM daily),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |   CAST(MAX(date_diff('day', d0.d0, day)) AS BIGINT) AS last_x,
        |   CAST(MAX(y) AS BIGINT) AS peak_y,
        |   CAST(SUM(date_diff('day', d0.d0, day)) AS BIGINT) AS sx,
        |   CAST(SUM(CAST(date_diff('day', d0.d0, day) AS BIGINT)
        |     * date_diff('day', d0.d0, day)) AS BIGINT) AS sxx,
        |   CAST(SUM(y) AS BIGINT) AS sy,
        |   CAST(SUM(date_diff('day', d0.d0, day) * y) AS BIGINT) AS sxy
        |  FROM daily, d0 GROUP BY 1 HAVING count(*) >= 2),
        |t AS (SELECT event_type, n_days, peak_y, last_x, sx, sy,
        |   peak_y * 2 AS threshold,
        |   n_days * sxy - sx * sy AS b_num,
        |   n_days * sxx - sx * sx AS b_den
        |  FROM m),
        |u AS (SELECT *,
        |   threshold * n_days * b_den - sy * b_den + b_num * sx AS p,
        |   n_days * b_num AS q
        |  FROM t)
        |SELECT event_type, n_days, peak_y, threshold,
        | CAST(b_num AS DOUBLE) / CAST(b_den AS DOUBLE) AS slope_per_day,
        | CAST(CASE WHEN b_num <= 0 THEN -1
        |      WHEN p <= 0 THEN 0
        |      ELSE GREATEST(0, (p + q - 1) // q - last_x) END AS BIGINT)
        |   AS days_to_threshold
        |FROM u""".stripMargin,
    // the fingerprint family's portable hash fold; bottom-k via
    // row_number (the heap and the rank agree on distinct values)
    "q_vocab_jaccard" ->
      """WITH wh AS (SELECT source,
        |  list_transform(string_split(text, ' '),
        |    w -> list_reduce(list_prepend(0::BIGINT,
        |      list_transform(list_filter(string_split(w, ''), ch -> ch <> ''),
        |        ch -> unicode(ch)::BIGINT)),
        |      (a, c) -> (a*127 + c) % 2147483647)) AS wh
        |  FROM documents),
        |g AS (SELECT DISTINCT source, gh FROM (
        |  SELECT source, unnest(list_transform(
        |    generate_series(1, len(wh) - 1),
        |    i -> (wh[i]*131 + wh[i+1]) % 2147483647)) AS gh
        |  FROM wh WHERE len(wh) >= 2)),
        |rk AS (SELECT source, gh,
        |   row_number() OVER (PARTITION BY source ORDER BY gh) AS rn FROM g),
        |sk AS (SELECT source, list_sort(list(gh)) AS sk
        |  FROM rk WHERE rn <= 32 GROUP BY source),
        |pr AS (SELECT a.source AS source_a, b.source AS source_b,
        |   a.sk AS ska, b.sk AS skb
        |  FROM sk a JOIN sk b ON a.source < b.source),
        |u AS (SELECT source_a, source_b,
        |   list_sort(list_distinct(list_concat(ska, skb)))[1:32] AS uk,
        |   list_intersect(ska, skb) AS ab
        |  FROM pr)
        |SELECT source_a, source_b,
        | CAST(len(uk) AS BIGINT) AS k_used,
        | CAST(len(list_intersect(uk, ab)) AS BIGINT) AS shared,
        | CAST(len(list_intersect(uk, ab)) AS DOUBLE) / len(uk) AS jaccard_est
        |FROM u""".stripMargin,
    // medians of integers land on .0/.5 — doubling restores BIGINT;
    // the flag is the same cross-multiplied integer test
    "q_dow_anomalies" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |dw AS (SELECT *, CAST(date_part('dow', day) AS INT) AS dow FROM daily),
        |med AS (SELECT event_type, dow,
        |   CAST(2 * quantile_cont(n, 0.5) AS BIGINT) AS med2
        |  FROM dw GROUP BY 1, 2),
        |r AS (SELECT dw.event_type, dw.day, dw.n, med.med2,
        |   2 * dw.n - med.med2 AS r2
        |  FROM dw JOIN med USING (event_type, dow)),
        |mad AS (SELECT event_type,
        |   CAST(2 * quantile_cont(abs(r2), 0.5) AS BIGINT) AS mad4
        |  FROM r GROUP BY 1)
        |SELECT r.event_type, r.day, r.n AS n_events,
        | CAST(med2 AS DOUBLE) / 2.0 AS dow_median,
        | CAST(abs(r2) AS DOUBLE) / 2.0 AS deviation,
        | 2 * abs(r2) * 1 > 3 * mad4 AS is_anomaly
        |FROM r JOIN mad USING (event_type)""".stripMargin,
    // q_table_profile's per-column union, once per side, joined
    "q_profile_diff" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority")
      def prof(src: String) = cols.map(c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           | count(*) - count($c) AS n_nulls,
           | count(DISTINCT $c) AS n_distinct,
           | CAST(min($c) AS VARCHAR) AS min_str,
           | CAST(max($c) AS VARCHAR) AS max_str
           |FROM $src""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""WITH rsrc AS (SELECT o_orderkey, o_custkey,
         |  CASE WHEN o_orderkey % 101 = 0 THEN NULL
         |       ELSE o_orderstatus END AS o_orderstatus,
         |  o_orderpriority
         | FROM orders WHERE o_orderkey % 97 <> 0),
         |lp AS (${prof("orders")}),
         |rp AS (${prof("rsrc")})
         |SELECT lp.col_name,
         | CAST(lp.n_rows AS BIGINT) AS l_rows,
         | CAST(rp.n_rows AS BIGINT) AS r_rows,
         | CAST(rp.n_rows - lp.n_rows AS BIGINT) AS rows_delta,
         | CAST(rp.n_nulls - lp.n_nulls AS BIGINT) AS nulls_delta,
         | CAST(rp.n_distinct - lp.n_distinct AS BIGINT) AS distinct_delta,
         | lp.min_str IS DISTINCT FROM rp.min_str AS min_changed,
         | lp.max_str IS DISTINCT FROM rp.max_str AS max_changed
         |FROM lp JOIN rp USING (col_name)""".stripMargin
    },
    // row_number replays the heap's (count desc, user asc) order;
    // yesterday's board joins by a one-day shift
    "q_trending" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, user_id,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1, 2),
        |rk AS (SELECT *, row_number() OVER
        |   (PARTITION BY day ORDER BY n_events DESC, user_id) AS rnk
        |  FROM daily),
        |top AS (SELECT day, user_id, CAST(rnk AS BIGINT) AS rnk, n_events
        |  FROM rk WHERE rnk <= 10)
        |SELECT t.day, t.user_id, t.rnk, t.n_events,
        | CAST(COALESCE(p.rnk - t.rnk, 0) AS BIGINT) AS rank_change,
        | p.rnk IS NULL AS is_new
        |FROM top t LEFT JOIN top p
        |  ON p.user_id = t.user_id AND p.day = t.day - 1""".stripMargin,
    // the expected rollup computed directly from the columns — the
    // Spark side must round-trip its quoted render to match
    "q_csv_quoted" ->
      """WITH p AS (SELECT o_orderstatus || ',' || o_orderpriority ||
        |   CASE WHEN o_orderkey % 19 = 0 THEN '"x' ELSE '' END AS payload,
        |   CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT payload, CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM p GROUP BY 1""".stripMargin,
    // the capped definition replayed: df <= 100 terms feed the dot,
    // every term feeds the norms; sqrt divisions last, fixed order
    "q_tf_cosine" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id,
        |     unnest(list_transform(generate_series(1, len(w) - 1),
        |       i -> array_to_string(w[i:i+1], ' '))) AS term
        |    FROM w WHERE len(w) >= 2) GROUP BY 1, 2),
        |norms AS (SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS s2
        |  FROM tf GROUP BY 1),
        |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |   CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
        |  FROM tf a JOIN tf b ON a.term = b.term AND a.doc_id < b.doc_id
        |  JOIN dfx ON dfx.term = a.term AND dfx.df <= 100
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        | CAST(dot AS DOUBLE) / sqrt(CAST(na.s2 AS DOUBLE))
        |   / sqrt(CAST(nb.s2 AS DOUBLE)) AS cos_sim
        |FROM pairs
        |JOIN norms na ON na.doc_id = doc_a
        |JOIN norms nb ON nb.doc_id = doc_b
        |WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.s2 AS DOUBLE))
        |   / sqrt(CAST(nb.s2 AS DOUBLE)) >= 0.5""".stripMargin,
    // expected rollup computed directly — the JSONL render→parse
    // round-trip (including the missing-field NULLs) must match
    "q_jsonl" ->
      """WITH p AS (SELECT o_orderstatus AS st,
        |   CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
        |   CASE WHEN o_orderkey % 23 = 0 THEN 1 ELSE 0 END AS miss
        |  FROM orders)
        |SELECT st, CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(sum(cents) AS BIGINT) AS sum_cents,
        | CAST(sum(miss) AS BIGINT) AS n_missing_priority
        |FROM p GROUP BY 1""".stripMargin,
    // the same lag-per-entity fold in SQL; cents keep deltas BIGINT
    "q_counter_deltas" -> counterDeltaSql,
    // the streaming state machine grades against the SAME ladder —
    // batch window and keyed-state fold must agree exactly
    "q_stream_counter_deltas" -> counterDeltaSql,
    // both paths replayed with the identical decimal discipline;
    // FULL OUTER catches buckets one path dropped
    "q_rollup_audit" ->
      """WITH f AS (SELECT CAST(FLOOR(epoch(ts)/300)*300 AS BIGINT) AS b5,
        |   event_type, CAST(count(*) AS BIGINT) AS n,
        |   CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |     AS DOUBLE) AS sv
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT (b5 // 86400) * 86400 AS bucket_start, event_type,
        |   CAST(SUM(n) AS BIGINT) AS n_cascaded,
        |   CAST(CAST(SUM(CAST(sv AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |     AS DOUBLE) AS sum_cascaded
        |  FROM f GROUP BY 1, 2),
        |d AS (SELECT CAST(FLOOR(epoch(ts)/86400)*86400 AS BIGINT)
        |     AS bucket_start, event_type,
        |   CAST(count(*) AS BIGINT) AS n_direct,
        |   CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |     AS DOUBLE) AS sum_direct
        |  FROM events GROUP BY 1, 2)
        |SELECT COALESCE(d.bucket_start, c.bucket_start) AS bucket_start,
        | COALESCE(d.event_type, c.event_type) AS event_type,
        | COALESCE(n_direct, 0) AS n_direct,
        | COALESCE(n_cascaded, 0) AS n_cascaded,
        | COALESCE(sum_direct, 0.0) AS sum_direct,
        | COALESCE(sum_cascaded, 0.0) AS sum_cascaded,
        | COALESCE(n_direct, 0) = COALESCE(n_cascaded, 0)
        |   AND COALESCE(sum_direct, 0.0) = COALESCE(sum_cascaded, 0.0)
        |   AS is_match
        |FROM d FULL OUTER JOIN c
        |  ON d.bucket_start = c.bucket_start
        |  AND d.event_type = c.event_type""".stripMargin,
    // row_number replays the (count desc, w2) heap order; the per-w1
    // total rides the same partition
    "q_next_word" ->
      """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        |p AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pairs FROM (
        |  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
        |      i -> {'w1': w[i], 'w2': w[i+1]}), recursive := true)
        |  FROM w WHERE len(w) >= 2) GROUP BY 1, 2),
        |r AS (SELECT w1, w2, n_pairs,
        |   row_number() OVER (PARTITION BY w1
        |     ORDER BY n_pairs DESC, w2) AS rnk,
        |   SUM(n_pairs) OVER (PARTITION BY w1) AS w1_total
        |  FROM p)
        |SELECT w1, CAST(rnk AS BIGINT) AS rnk, w2, n_pairs,
        | CAST(n_pairs AS DOUBLE) / w1_total AS prob
        |FROM r WHERE rnk <= 3""".stripMargin,
    // the same change ladder + row_number latest-wins in SQL
    "q_cdc_apply" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |   CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |ch AS (
        |  SELECT k, 'U1' AS status, cents, 'U' AS op, 1 AS change_seq
        |  FROM base WHERE k % 7 = 0
        |  UNION ALL
        |  SELECT k, 'U2', cents, 'U', 2 FROM base WHERE k % 21 = 0
        |  UNION ALL
        |  SELECT k, status, cents, 'D', 3 FROM base WHERE k % 11 = 0
        |  UNION ALL
        |  SELECT k + 5000000, 'N', cents, 'I', 1 FROM base WHERE k % 13 = 0),
        |latest AS (SELECT * FROM (SELECT ch.*,
        |   row_number() OVER (PARTITION BY k ORDER BY change_seq DESC) AS rn
        |  FROM ch) WHERE rn = 1)
        |SELECT b.k, b.status, b.cents FROM base b
        |WHERE NOT EXISTS (SELECT 1 FROM ch WHERE ch.k = b.k)
        |UNION ALL
        |SELECT k, status, cents FROM latest WHERE op <> 'D'""".stripMargin,
    // same change stream truncated to change_seq <= 2 — the seq-3
    // deletes have not happened yet in the reconstructed state
    "q_snapshot_at" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |   CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |ch AS (
        |  SELECT k, 'U1' AS status, cents, 'U' AS op, 1 AS change_seq
        |  FROM base WHERE k % 7 = 0
        |  UNION ALL
        |  SELECT k, 'U2', cents, 'U', 2 FROM base WHERE k % 21 = 0
        |  UNION ALL
        |  SELECT k, status, cents, 'D', 3 FROM base WHERE k % 11 = 0
        |  UNION ALL
        |  SELECT k + 5000000, 'N', cents, 'I', 1 FROM base WHERE k % 13 = 0),
        |cut AS (SELECT * FROM ch WHERE change_seq <= 2),
        |latest AS (SELECT * FROM (SELECT cut.*,
        |   row_number() OVER (PARTITION BY k ORDER BY change_seq DESC) AS rn
        |  FROM cut) WHERE rn = 1)
        |SELECT b.k, b.status, b.cents FROM base b
        |WHERE NOT EXISTS (SELECT 1 FROM cut WHERE cut.k = b.k)
        |UNION ALL
        |SELECT k, status, cents FROM latest WHERE op <> 'D'""".stripMargin,
    // the same descending (ts, event_id) lookahead window; a blocker
    // blocks only if strictly earlier than the target
    "q_pattern_negation" ->
      """WITH x AS (SELECT user_id, event_id, ts, event_type,
        |  min(CASE WHEN event_type = 'purchase' THEN ts END) OVER w AS next_target,
        |  min(CASE WHEN event_type = 'error' THEN ts END) OVER w AS next_blocker
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id AS start_event_id, ts AS start_ts,
        | CASE WHEN next_target IS NULL THEN 'none'
        |      WHEN next_blocker IS NOT NULL AND next_blocker < next_target
        |        THEN 'blocked'
        |      ELSE 'converted' END AS outcome,
        | CASE WHEN next_target IS NOT NULL
        |       AND (next_blocker IS NULL OR next_blocker >= next_target)
        |      THEN next_target END AS target_ts
        |FROM x WHERE event_type = 'view'""".stripMargin,
    // the streaming monitor emits only resolved outcomes: same
    // window replay, restricted to starts whose target arrived
    "q_stream_pattern" ->
      """WITH x AS (SELECT user_id, event_id, ts, event_type,
        |  min(CASE WHEN event_type = 'purchase' THEN ts END) OVER w AS next_target,
        |  min(CASE WHEN event_type = 'error' THEN ts END) OVER w AS next_blocker
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id AS start_event_id, ts AS start_ts,
        | CASE WHEN next_blocker IS NOT NULL AND next_blocker < next_target
        |        THEN 'blocked'
        |      ELSE 'converted' END AS outcome,
        | CASE WHEN next_blocker IS NULL OR next_blocker >= next_target
        |      THEN next_target END AS target_ts
        |FROM x WHERE event_type = 'view' AND next_target IS NOT NULL""".stripMargin,
    // exact BIGINT moments over day-joined (x_t, x_{t-lag}) pairs;
    // one double division + sqrts at the end, same op order both sides
    "q_autocorr" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |   CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, day, x,
        |   CAST(unnest([1, 2, 3, 4, 5, 6, 7]) AS INT) AS lag FROM daily),
        |p AS (SELECT a.event_type, a.lag, a.x, b.x AS y
        |  FROM l a JOIN daily b ON b.event_type = a.event_type
        |   AND b.day = a.day - CAST(a.lag AS INT)),
        |g AS (SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |   CAST(sum(x * y) AS BIGINT) AS sxy,
        |   CAST(sum(x * x) AS BIGINT) AS sxx,
        |   CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM p GROUP BY 1, 2)
        |SELECT event_type, lag, n,
        | CAST(n*sxy - sx*sy AS DOUBLE) /
        |  (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) *
        |   sqrt(CAST(n*syy - sy*sy AS DOUBLE))) AS r
        |FROM g""".stripMargin,
    // per-column distinct sets meet in one value join; containment
    // is n_common over each side's distinct count
    "q_join_discovery" ->
      """WITH t AS (
        |  SELECT DISTINCT 'orders.o_custkey' AS tag, CAST(o_custkey AS BIGINT) AS v
        |    FROM orders WHERE o_custkey IS NOT NULL
        |  UNION ALL SELECT DISTINCT 'customer.c_custkey', CAST(c_custkey AS BIGINT)
        |    FROM customer WHERE c_custkey IS NOT NULL
        |  UNION ALL SELECT DISTINCT 'lineitem.l_orderkey', CAST(l_orderkey AS BIGINT)
        |    FROM lineitem WHERE l_orderkey IS NOT NULL
        |  UNION ALL SELECT DISTINCT 'orders.o_orderkey', CAST(o_orderkey AS BIGINT)
        |    FROM orders WHERE o_orderkey IS NOT NULL
        |  UNION ALL SELECT DISTINCT 'lineitem.l_partkey', CAST(l_partkey AS BIGINT)
        |    FROM lineitem WHERE l_partkey IS NOT NULL
        |  UNION ALL SELECT DISTINCT 'part.p_partkey', CAST(p_partkey AS BIGINT)
        |    FROM part WHERE p_partkey IS NOT NULL
        |  UNION ALL SELECT DISTINCT 'lineitem.l_suppkey', CAST(l_suppkey AS BIGINT)
        |    FROM lineitem WHERE l_suppkey IS NOT NULL
        |  UNION ALL SELECT DISTINCT 'supplier.s_suppkey', CAST(s_suppkey AS BIGINT)
        |    FROM supplier WHERE s_suppkey IS NOT NULL
        |  UNION ALL SELECT DISTINCT 'customer.c_nationkey', CAST(c_nationkey AS BIGINT)
        |    FROM customer WHERE c_nationkey IS NOT NULL
        |  UNION ALL SELECT DISTINCT 'nation.n_nationkey', CAST(n_nationkey AS BIGINT)
        |    FROM nation WHERE n_nationkey IS NOT NULL
        |  UNION ALL SELECT DISTINCT 'events.user_id', CAST(user_id AS BIGINT)
        |    FROM events WHERE user_id IS NOT NULL),
        |counts AS (SELECT tag, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1),
        |j AS (SELECT a.tag AS col_a, b.tag AS col_b,
        |   CAST(count(*) AS BIGINT) AS n_common
        |  FROM t a JOIN t b ON a.v = b.v AND a.tag < b.tag GROUP BY 1, 2)
        |SELECT col_a, col_b, ca.n AS n_a, cb.n AS n_b, n_common,
        | CAST(n_common AS DOUBLE) / ca.n AS containment_a_in_b,
        | CAST(n_common AS DOUBLE) / cb.n AS containment_b_in_a
        |FROM j JOIN counts ca ON ca.tag = col_a
        |JOIN counts cb ON cb.tag = col_b""".stripMargin,
    // one sub-select per candidate pair: nd = distinct dependents per
    // determinant value; the FD holds iff no key has nd > 1
    "q_fd_discovery" -> {
      def one(tbl: String, a: String, b: String) =
        s"""SELECT '$tbl.$a' AS determinant, '$tbl.$b' AS dependent,
           | CAST(count(*) AS BIGINT) AS n_keys,
           | CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
           | sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
           |FROM (SELECT $a AS det, count(DISTINCT $b) AS nd
           |      FROM $tbl GROUP BY 1)""".stripMargin
      Seq(("orders", "o_orderkey", "o_custkey"),
        ("orders", "o_orderkey", "o_orderstatus"),
        ("orders", "o_custkey", "o_orderpriority"),
        ("orders", "o_orderstatus", "o_orderpriority"),
        ("lineitem", "l_orderkey", "l_suppkey"),
        ("lineitem", "l_partkey", "l_returnflag"))
        .map { case (t, a, b) => one(t, a, b) }.mkString("\nUNION ALL\n")
    },
    // distinct (user, type) pairs self-join on user — the oracle's
    // readable twin of the one-scan set-collapse plan
    "q_audience_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ut GROUP BY 1),
        |p AS (SELECT a.event_type AS ta, b.event_type AS tb,
        |   CAST(count(*) AS BIGINT) AS nboth
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |   AND a.event_type < b.event_type GROUP BY 1, 2)
        |SELECT ta AS type_a, tb AS type_b, ca.n AS users_a, cb.n AS users_b,
        | nboth AS users_both,
        | CAST(nboth AS DOUBLE) / (ca.n + cb.n - nboth) AS jaccard
        |FROM p JOIN c ca ON ca.event_type = ta
        |JOIN c cb ON cb.event_type = tb""".stripMargin,
    "q_template_mining" ->
      """WITH p AS (SELECT doc_id, source,
        |   array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ') AS prefix
        |  FROM documents)
        |SELECT prefix, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        | MIN(doc_id) AS min_doc_id
        |FROM p GROUP BY 1 HAVING count(*) >= 2""".stripMargin,
    // digit from the BIGINT cents string — engines print integers
    // identically, unlike floating log10
    "q_benford" ->
      """WITH c AS (SELECT o_orderpriority AS grp,
        |   substr(CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
        |     AS VARCHAR), 1, 1) AS digit
        |  FROM orders WHERE o_totalprice > 0),
        |g AS (SELECT grp, digit, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1, 2)
        |SELECT grp, digit, n,
        | CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY grp) AS DOUBLE) AS share
        |FROM g""".stripMargin,
    "q_unused_dims" ->
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_unused_customers
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |GROUP BY 1""".stripMargin,
    "q_duplicate_keys" ->
      """WITH d AS (SELECT l_orderkey, l_linenumber FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber FROM lineitem
        |  WHERE l_orderkey % 97 = 0)
        |SELECT l_orderkey, l_linenumber, CAST(count(*) AS BIGINT) AS n_copies
        |FROM d GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    "q_counter_types" ->
      """WITH l AS (SELECT event_type,
        |   CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
        |   LAG(CAST(floor(value * 100.0 + 0.5) AS BIGINT), 1) OVER
        |     (PARTITION BY event_type, user_id ORDER BY ts, event_id)
        |     AS prev
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_deltas,
        | CAST(SUM(CASE WHEN cents < prev THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_neg,
        | CAST(SUM(CASE WHEN cents < prev THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*) AS neg_rate,
        | CASE WHEN SUM(CASE WHEN cents < prev THEN 1 ELSE 0 END) * 20
        |     <= count(*) * 1
        |   THEN 'cumulative' ELSE 'gauge' END AS kind
        |FROM l WHERE prev IS NOT NULL GROUP BY 1""".stripMargin,
    // same per-day delta collapse + prefix sum + earliest-day argmax
    "q_peak_concurrency" ->
      """WITH li AS (SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS e
        |  FROM lineitem GROUP BY 1),
        |iv AS (SELECT n_name AS key, CAST(o_orderdate AS DATE) AS s,
        |   GREATEST(e, CAST(o_orderdate AS DATE)) AS e
        |  FROM orders
        |  JOIN li ON li.l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey),
        |ev AS (SELECT key, d, CAST(SUM(delta) AS BIGINT) AS delta FROM (
        |  SELECT key, s AS d, 1 AS delta FROM iv
        |  UNION ALL
        |  SELECT key, e + 1, -1 FROM iv) GROUP BY 1, 2),
        |run AS (SELECT key, d,
        |   CAST(SUM(delta) OVER (PARTITION BY key ORDER BY d
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |     AS BIGINT) AS active
        |  FROM ev),
        |pk AS (SELECT key, MAX(active) AS peak_active FROM run GROUP BY 1)
        |SELECT run.key, CAST(MIN(pk.peak_active) AS BIGINT) AS peak_active,
        | MIN(run.d) AS first_peak_day
        |FROM run JOIN pk ON run.key = pk.key AND run.active = pk.peak_active
        |GROUP BY 1""".stripMargin,
    "q_burstiness" ->
      """WITH t AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf_doc
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  WHERE word <> '' GROUP BY 1, 2),
        |v AS (SELECT word, CAST(count(*) AS BIGINT) AS df,
        |   CAST(SUM(tf_doc) AS BIGINT) AS tf
        |  FROM t GROUP BY 1)
        |SELECT word, df, tf, CAST(tf AS DOUBLE) / df AS burstiness
        |FROM v WHERE df >= 5
        |ORDER BY burstiness DESC, word LIMIT 20""".stripMargin,
    // RANGE window on the day index, full windows only; the dow
    // component's numerator stays BIGINT so no double sum exists
    "q_seasonal_decomp" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |d0 AS (SELECT MIN(day) AS d0 FROM daily),
        |idx AS (SELECT daily.*,
        |   CAST(date_diff('day', d0.d0, day) AS BIGINT) AS x,
        |   CAST(date_part('dow', day) AS INT) AS dow
        |  FROM daily, d0),
        |f AS (SELECT *,
        |   CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY x
        |     RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS sum7,
        |   CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY x
        |     RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS cnt7
        |  FROM idx),
        |fu AS (SELECT * FROM f WHERE cnt7 = 7),
        |se AS (SELECT event_type, dow,
        |   CAST(SUM(7 * n - sum7) AS DOUBLE)
        |     / (7.0 * count(*)) AS seasonal
        |  FROM fu GROUP BY 1, 2)
        |SELECT fu.event_type, fu.day, fu.n,
        | CAST(sum7 AS DOUBLE) / 7.0 AS trend, se.seasonal,
        | CAST(fu.n AS DOUBLE) - CAST(sum7 AS DOUBLE) / 7.0 - se.seasonal
        |   AS residual
        |FROM fu JOIN se ON fu.event_type = se.event_type
        |  AND fu.dow = se.dow""".stripMargin,
    // three row_number windows replay the rank signals; borda sums
    "q_rank_ensemble" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |   CAST(len(regexp_extract_all(text,
        |     '\b(the|a|an|of|and|in|to|is)\b')) AS BIGINT) AS n_stop
        |  FROM documents),
        |r AS (SELECT doc_id,
        |   CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id)
        |     AS BIGINT) AS rank_chars,
        |   CAST(row_number() OVER (ORDER BY n_words DESC, doc_id)
        |     AS BIGINT) AS rank_words,
        |   CAST(row_number() OVER (ORDER BY n_stop ASC, doc_id)
        |     AS BIGINT) AS rank_stop
        |  FROM d),
        |b AS (SELECT *, rank_chars + rank_words + rank_stop AS borda FROM r),
        |f AS (SELECT *, CAST(row_number() OVER (ORDER BY borda, doc_id)
        |    AS BIGINT) AS final_rank FROM b)
        |SELECT doc_id, rank_chars, rank_words, rank_stop, borda, final_rank
        |FROM f WHERE final_rank <= 50""".stripMargin,
    // identical operation sequence: each division and the sqrt are
    // correctly rounded, so z and the verdict replay bit-exactly
    "q_ab_test" ->
      """WITH u AS (SELECT user_id,
        |   CAST(MAX(CASE WHEN event_type = 'purchase' AND value > 150.0
        |     THEN 1 ELSE 0 END)
        |     AS BIGINT) AS success
        |  FROM events GROUP BY 1),
        |g AS (SELECT CAST(user_id % 2 AS INT) AS variant,
        |   CAST(count(*) AS BIGINT) AS n, CAST(SUM(success) AS BIGINT) AS conv
        |  FROM u GROUP BY 1),
        |a AS (SELECT n AS n_a, conv AS conv_a FROM g WHERE variant = 0),
        |b AS (SELECT n AS n_b, conv AS conv_b FROM g WHERE variant = 1)
        |SELECT n_a, conv_a, n_b, conv_b,
        | CAST(conv_a AS DOUBLE) / n_a AS p_a,
        | CAST(conv_b AS DOUBLE) / n_b AS p_b,
        | CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
        |   AS p_pool,
        | (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
        |   / sqrt((CAST(conv_a + conv_b AS DOUBLE)
        |       / CAST(n_a + n_b AS DOUBLE))
        |     * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
        |       / CAST(n_a + n_b AS DOUBLE))
        |     * (1.0 / n_a + 1.0 / n_b)) AS z,
        | abs((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
        |   / sqrt((CAST(conv_a + conv_b AS DOUBLE)
        |       / CAST(n_a + n_b AS DOUBLE))
        |     * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
        |       / CAST(n_a + n_b AS DOUBLE))
        |     * (1.0 / n_a + 1.0 / n_b))) > 1.96 AS significant_95
        |FROM a, b""".stripMargin,
    "q_hhi" ->
      """WITH m AS (SELECT n_name, s_suppkey, CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY 1, 2)
        |SELECT n_name, CAST(count(*) AS BIGINT) AS n_members,
        | CAST(SUM(n) AS BIGINT) AS n_total,
        | CAST(SUM(n * n) AS DOUBLE)
        |   / (CAST(SUM(n) AS DOUBLE) * CAST(SUM(n) AS DOUBLE)) AS hhi
        |FROM m GROUP BY 1""".stripMargin,
    "q_retention_halflife" ->
      """WITH r AS (SELECT cohort_day,
        |   date_diff('day', cohort_day, day) AS day_offset,
        |   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM (SELECT user_id, CAST(ts AS DATE) AS day,
        |     MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS cohort_day
        |    FROM events) GROUP BY 1, 2),
        |b AS (SELECT cohort_day, n_users AS cohort_size FROM r
        |  WHERE day_offset = 0)
        |SELECT r.cohort_day,
        | CAST(MIN(b.cohort_size) AS BIGINT) AS cohort_size,
        | CAST(COALESCE(MIN(CASE WHEN r.day_offset > 0
        |     AND r.n_users * 2 <= b.cohort_size
        |   THEN r.day_offset END), -1) AS BIGINT) AS halflife_days
        |FROM r JOIN b USING (cohort_day) GROUP BY 1""".stripMargin,
    // the plain inequality join the grid plan must agree with
    "q_interval_overlap" ->
      """WITH li AS (SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS e
        |  FROM lineitem GROUP BY 1),
        |iv AS (SELECT n_name AS key, o_orderkey AS id,
        |   CAST(o_orderdate AS DATE) AS s,
        |   GREATEST(e, CAST(o_orderdate AS DATE)) AS e
        |  FROM orders
        |  JOIN li ON li.l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey),
        |p AS (SELECT a.key, a.id AS a_id, b.id AS b_id,
        |   date_diff('day', GREATEST(a.s, b.s), LEAST(a.e, b.e)) + 1
        |     AS overlap_days
        |  FROM iv a JOIN iv b
        |    ON a.key = b.key AND a.id < b.id
        |   AND a.s <= b.e AND b.s <= a.e)
        |SELECT key, CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(SUM(overlap_days) AS BIGINT) AS total_overlap_days
        |FROM p GROUP BY 1""".stripMargin,
    "q_k_anonymity" ->
      """WITH g AS (SELECT lang, source, n_chars // 100 AS len_bucket,
        |    CAST(count(*) AS BIGINT) AS gn
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT CAST(5 AS BIGINT) AS k,
        | CAST(SUM(gn) AS BIGINT) AS n_rows,
        | CAST(count(*) AS BIGINT) AS n_groups,
        | CAST(SUM(CASE WHEN gn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_singletons,
        | CAST(SUM(CASE WHEN gn < 5 THEN gn ELSE 0 END) AS BIGINT)
        |   AS n_rows_below_k,
        | CAST(MIN(gn) AS BIGINT) AS min_group,
        | CAST(SUM(CASE WHEN gn < 5 THEN gn ELSE 0 END) AS DOUBLE)
        |   / SUM(gn) AS at_risk_rate
        |FROM g""".stripMargin,
    // the redactor's class regexes replayed in RE2 over the same
    // injected corpus
    "q_pii_report" ->
      """WITH d AS (SELECT source,
        |   CASE WHEN doc_id % 11 = 0 THEN text || ' contact bob@example.com'
        |        WHEN doc_id % 13 = 0 THEN text || ' from 10.1.2.3'
        |        ELSE text END AS text
        |  FROM documents),
        |m AS (SELECT source,
        |   CAST(len(regexp_extract_all(text,
        |     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |     AS n_email,
        |   CAST(len(regexp_extract_all(text,
        |     '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS BIGINT) AS n_ip,
        |   CAST(len(regexp_extract_all(text,
        |     '\+?\d[\d() -]{6,}\d')) AS BIGINT) AS n_num
        |  FROM d)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(SUM(CASE WHEN n_email + n_ip + n_num > 0 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_flagged,
        | CAST(SUM(n_email) AS BIGINT) AS emails,
        | CAST(SUM(n_ip) AS BIGINT) AS ips,
        | CAST(SUM(n_num) AS BIGINT) AS numbers,
        | CAST(SUM(CASE WHEN n_email + n_ip + n_num > 0 THEN 1 ELSE 0 END)
        |   AS DOUBLE) / count(*) AS flagged_rate
        |FROM m GROUP BY 1""".stripMargin,
    // the diffs-multi ladder restricted to the same key-mod slice
    "q_recon_sampled" ->
      """WITH l AS (SELECT l_orderkey*10 + l_linenumber AS line_key,
        |    l_linenumber, l_quantity, l_extendedprice FROM lineitem
        |  WHERE (l_orderkey*10 + l_linenumber) % 16 = 0),
        |r AS (SELECT line_key,
        |   CASE WHEN l_linenumber = 1 THEN l_quantity + 1
        |        ELSE l_quantity END AS l_quantity,
        |   l_extendedprice
        |  FROM l),
        |u AS (
        |  SELECT l.line_key, 'l_quantity' AS counter,
        |   l.l_quantity AS val_left, r.l_quantity AS val_right
        |  FROM l JOIN r ON l.line_key = r.line_key
        |  UNION ALL
        |  SELECT l.line_key, 'l_extendedprice', l.l_extendedprice,
        |   r.l_extendedprice
        |  FROM l JOIN r ON l.line_key = r.line_key)
        |SELECT line_key, counter, val_left, val_right,
        | val_left - val_right AS diff,
        | CAST(16 AS BIGINT) AS sample_modulus
        |FROM u WHERE abs(val_left - val_right) > 0.000001""".stripMargin,
    // the q_revenue_by_nation decimal discipline, one output row
    "q_tpch_q6" ->
      """SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |   * CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4))
        |   AS DOUBLE) AS revenue,
        | CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
        |  AND l_discount >= 0.03 AND l_discount <= 0.05
        |  AND l_quantity < 24""".stripMargin,
    // identical decimal revenue; deterministic (revenue desc, key)
    "q_tpch_q3" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |   * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |   AS DECIMAL(38,4)) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND CAST(o_orderdate AS DATE) < DATE '1999-06-30'
        |  AND CAST(l_shipdate AS DATE) > DATE '1999-06-30'
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q_tpch_q4" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 60)
        |GROUP BY 1""".stripMargin,
    // both layouts replayed with the identical row_number blocks
    "q_zonemap" -> {
      def side(order: String, label: String) =
        s"""o_$label AS (SELECT user_id,
           |  row_number() OVER (ORDER BY $order) AS rn FROM events),
           |b_$label AS (SELECT (rn - 1) // 4096 AS blk,
           |  min(user_id) AS mn, max(user_id) AS mx
           | FROM o_$label GROUP BY 1),
           |r_$label AS (SELECT '$label' AS layout, probe,
           |  CAST(count(*) AS BIGINT) AS n_blocks,
           |  CAST(SUM(CASE WHEN mn <= probe AND probe <= mx
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned
           | FROM b_$label, p GROUP BY 1, 2)""".stripMargin
      s"""WITH p AS (SELECT CAST(unnest([5, 50, 500]) AS BIGINT) AS probe),
         |${side("user_id, event_id", "by_user")},
         |${side("ts, event_id", "by_time")},
         |u AS (SELECT * FROM r_by_user UNION ALL SELECT * FROM r_by_time)
         |SELECT layout, probe, n_blocks, n_scanned,
         | 1.0 - CAST(n_scanned AS DOUBLE) / n_blocks AS skip_rate
         |FROM u""".stripMargin
    },
    // md5 of the identical utf-8 bytes on both engines; the same
    // re-delivered subset unioned in
    "q_binary_dedup" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, text FROM documents
        |  WHERE doc_id % 50 = 3)
        |SELECT md5(text) AS content_hash,
        | CAST(count(*) AS BIGINT) AS n_copies,
        | CAST(min(doc_id) AS BIGINT) AS keep_id,
        | CAST(min(octet_length(encode(text))) AS BIGINT) AS n_bytes
        |FROM d GROUP BY 1 HAVING count(*) >= 2""".stripMargin,
    // identical carry-max islands, ROWS frames spelled out
    "q_interval_coverage" ->
      """WITH li AS (SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS e
        |  FROM lineitem GROUP BY 1),
        |iv AS (SELECT o_custkey, o_orderkey,
        |   CAST(o_orderdate AS DATE) AS s, e
        |  FROM orders JOIN li ON li.l_orderkey = o_orderkey),
        |x AS (SELECT *, MAX(e) OVER (PARTITION BY o_custkey
        |   ORDER BY s, e, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM iv),
        |y AS (SELECT *, CASE WHEN pme IS NULL OR s > pme
        |   THEN 1 ELSE 0 END AS ni FROM x),
        |z AS (SELECT *, SUM(ni) OVER (PARTITION BY o_custkey
        |   ORDER BY s, e, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM y),
        |g AS (SELECT o_custkey, island, MIN(s) AS gs, MAX(e) AS ge,
        |   count(*) AS n FROM z GROUP BY 1, 2)
        |SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_islands,
        | CAST(SUM(n) AS BIGINT) AS n_orders,
        | CAST(SUM(date_diff('day', gs, ge) + 1) AS BIGINT) AS covered_days
        |FROM g GROUP BY 1""".stripMargin,
    // D78: full-oracle BPE training replay — the fixed 8 merge rounds
    // unroll into 8 chained CTEs (count pairs → argmax → rewrite).
    // DuckDB's RE2 has no lookarounds, so the rewrite uses the
    // double-space padding identity instead of Spark's
    // (?<=^|\s)a b(?=\s|$): with every symbol gap widened to two
    // spaces, a plain left-to-right ' a  b ' → ' ab ' replace consumes
    // only its own boundary spaces, reproducing the regex's
    // non-overlapping greedy semantics exactly (incl. the "a a a" →
    // "aa a" convention), then '  '→' ' collapses the gaps back
    "q_bpe_train" ->
      (s"WITH ${bpeTrainCtes()}\n" +
        (1 to BpeMerges).map(k =>
          s"""SELECT $k AS rank, a AS "left", b AS "right", freq AS pair_count FROM m$k""")
          .mkString(" UNION ALL ")),
    // D78b: full-oracle encode replay — the 8 learned merges apply to
    // every word's spaced form in rank order (same padding identity),
    // then symbols count per doc; docs with zero words still count
    // via the LEFT JOIN
    "q_bpe_encode" -> {
      val applied = (1 to BpeMerges).foldLeft(
        """trim(regexp_replace(w, '(?s)(.)', '\1 ', 'g'))""") {
        (s, k) => bpeMergeStep(s, s"m$k.a", s"m$k.b")
      }
      s"""WITH ${bpeTrainCtes()},
         |perword AS (
         |  SELECT doc_id, len(string_split($applied, ' '))::BIGINT AS n_sym
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         |       CROSS JOIN ${(1 to BpeMerges).map("m" + _).mkString(" CROSS JOIN ")}
         |  WHERE w <> ''),
         |perdoc AS (
         |  SELECT d.doc_id, d.source,
         |    coalesce(pw.n_words, 0) AS n_words, coalesce(pw.n_sym, 0) AS n_sym
         |  FROM documents d LEFT JOIN (
         |    SELECT doc_id, count(*)::BIGINT AS n_words, sum(n_sym)::BIGINT AS n_sym
         |    FROM perword GROUP BY doc_id) pw USING (doc_id))
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  CAST(sum(n_words) AS BIGINT) AS n_words,
         |  CAST(sum(n_sym) AS BIGINT) AS n_symbols,
         |  CAST(sum(n_sym) AS BIGINT)::DOUBLE / CAST(sum(n_words) AS BIGINT) AS fertility
         |FROM perdoc GROUP BY source""".stripMargin
    }
  )

  /** The graded BPE merge-round count — shared by the Spark queries
    * and the unrolled oracle CTE chain so they can never drift.
    */
  private val BpeMerges = 8

  // ---- DuckDB replay of Spark's XXH64.hashLong (the CMS oracle) ----
  // All arithmetic is unsigned mod 2^64: UBIGINT values, multiplies
  // through 32-bit limbs in HUGEINT (a full 64x64 product overflows
  // even INT128), rotates as disjoint shift halves. Verified
  // bit-identical to o.a.s.catalyst.expressions.XXH64.hashLong over
  // signed/unsigned probe values before landing.
  private val UMod = "18446744073709551616::HUGEINT"
  private val XP1 = BigInt("11400714785074694791")
  private val XP2 = BigInt("14029467366897019727")
  private val XP3 = BigInt("1609587929392839161")
  private val XP4 = BigInt("9650029242287828579")
  private val XP5 = BigInt("2870177450012600261")

  private def uMul(a: String, b: BigInt): String = {
    val bh = b >> 32; val bl = b & 0xFFFFFFFFL
    s"((((($a) >> 32)::HUGEINT * $bl + (($a) & 4294967295)::HUGEINT * $bh)" +
      s" * 4294967296 + (($a) & 4294967295)::HUGEINT * $bl) % $UMod)::UBIGINT"
  }
  private def uRotl(x: String, r: Int): String =
    s"(((($x) % ${BigInt(1) << (64 - r)})::HUGEINT * ${BigInt(1) << r})::UBIGINT" +
      s" + (($x) >> ${64 - r}))"
  private def uXor(a: String, b: String): String =
    s"xor(($a)::UBIGINT, ($b)::UBIGINT)"

  /** The ten chained column steps of one xxh64-of-a-long: k-mix,
    * seed-xor, rot-mul-add, then the 5-step avalanche.
    */
  private def xxh64Steps(v: String, seed: Long, pfx: String): Seq[(String, String)] = {
    val c0 = (BigInt(seed) + XP5 + 8) % (BigInt(1) << 64)
    Seq(
      s"${pfx}k1" -> uMul(v, XP2),
      s"${pfx}k2" -> uRotl(s"${pfx}k1", 31),
      s"${pfx}k3" -> uMul(s"${pfx}k2", XP1),
      s"${pfx}h1" -> uXor(s"$c0::UBIGINT", s"${pfx}k3"),
      s"${pfx}h2" -> s"(((${uMul(uRotl(s"${pfx}h1", 27), XP1)})::HUGEINT + $XP4) % $UMod)::UBIGINT",
      s"${pfx}f1" -> uXor(s"${pfx}h2", s"(${pfx}h2 >> 33)"),
      s"${pfx}f2" -> uMul(s"${pfx}f1", XP2),
      s"${pfx}f3" -> uXor(s"${pfx}f2", s"(${pfx}f2 >> 29)"),
      s"${pfx}f4" -> uMul(s"${pfx}f3", XP3),
      s"${pfx}out" -> uXor(s"${pfx}f4", s"(${pfx}f4 >> 32)"))
  }

  /** [[xxh64Steps]] with the SEED as a column expression instead of
    * a compile-time constant — the MinHash replay hashes one value
    * under 128 permutation seeds, and folds band hashes seeded by
    * the RUNNING hash, so the seed must come from the row.
    */
  private def xxh64StepsVarSeed(v: String, seedExpr: String,
                                pfx: String): Seq[(String, String)] = {
    val add = (XP5 + 8) % (BigInt(1) << 64)
    Seq(
      s"${pfx}c0" -> s"((($seedExpr)::HUGEINT + $add) % $UMod)::UBIGINT",
      s"${pfx}k1" -> uMul(v, XP2),
      s"${pfx}k2" -> uRotl(s"${pfx}k1", 31),
      s"${pfx}k3" -> uMul(s"${pfx}k2", XP1),
      s"${pfx}h1" -> uXor(s"${pfx}c0", s"${pfx}k3"),
      s"${pfx}h2" -> s"(((${uMul(uRotl(s"${pfx}h1", 27), XP1)})::HUGEINT + $XP4) % $UMod)::UBIGINT",
      s"${pfx}f1" -> uXor(s"${pfx}h2", s"(${pfx}h2 >> 33)"),
      s"${pfx}f2" -> uMul(s"${pfx}f1", XP2),
      s"${pfx}f3" -> uXor(s"${pfx}f2", s"(${pfx}f2 >> 29)"),
      s"${pfx}f4" -> uMul(s"${pfx}f3", XP3),
      s"${pfx}out" -> uXor(s"${pfx}f4", s"(${pfx}f4 >> 32)"))
  }

  /** Kirsch–Mitzenmacher hash pair over a `v` column: h1 = xxh64(v,
    * 42) (HllSketch.Seed), h2 = xxh64(h1, 1337) (CmsSketch.Seed2) —
    * nested-select chain ending with columns aout (h1) / bout (h2).
    */
  private def cmsHashChain(base: String): String =
    (xxh64Steps("v", 42L, "a") ++ xxh64Steps("aout", 1337L, "b"))
      .foldLeft(base) { case (inner, (k, e)) => s"SELECT *, $e AS $k FROM ($inner)" }

  // ---- DuckDB replay of XXH64.hashUnsafeBytes over a short string ----
  // SimHash64's per-token hash: xxh64(utf8-bytes(tok), seed 42) for a
  // VARIABLE-length token < 32 bytes. Same unsigned mod-2^64 HUGEINT
  // arithmetic as the hashLong replay above; the spec's word / 4-byte
  // / tail-byte loops unroll into CASE-guarded steps (3 8-byte words,
  // one 4-byte chunk when len%8 >= 4, then the last len%4 bytes — the
  // identity rem-after-4-chunk = len%4 collapses the tail guards).
  // Bytes come from ord(substr(...)), which is byte-true because every
  // graded token is ASCII (octet_length(encode(tok)) keeps the LENGTH
  // byte-true regardless). Verified bit-identical to SimHash64's
  // per-token XXH64 over the full sf0.01 token set before landing.

  /** 0-based byte `pos` (an expression) of `tok` as UBIGINT, 0 past end. */
  private def tokByte(pos: String): String =
    s"coalesce(ord(nullif(substr(tok, (($pos)+1)::BIGINT, 1), '')), 0)::UBIGINT"

  /** Little-endian unsigned load of `n` bytes at 0-based offset expr. */
  private def tokLE(off: String, n: Int): String =
    (0 until n).map(k =>
      s"${tokByte(s"$off + $k")} * ${BigInt(1) << (8 * k)}::UBIGINT")
      .mkString("(", " + ", ")")

  /** The chained column steps hashing column `tok` (len < 32) with
    * seed 42 into `hout` — appended to a base select via the same
    * fold as [[cmsHashChain]].
    */
  private def xxh64TokenSteps(): Seq[(String, String)] = {
    val c0 = (BigInt(42) + XP5) % (BigInt(1) << 64)
    val init = Seq(
      "len" -> "octet_length(encode(tok))::UBIGINT",
      "h0" -> s"(($c0::HUGEINT + len::HUGEINT) % $UMod)::UBIGINT")
    val words = (0 until 3).flatMap { i =>
      val h = if (i == 0) "h0" else s"h$i"
      Seq(
        s"w$i" -> tokLE(s"${8 * i}", 8),
        s"wk$i" -> uMul(uRotl(uMul(s"w$i", XP2), 31), XP1),
        s"wx$i" -> uXor(h, s"wk$i"),
        s"h${i + 1}" -> (s"CASE WHEN len >= ${8 * (i + 1)} THEN " +
          s"((${uMul(uRotl(s"wx$i", 27), XP1)})::HUGEINT + $XP4) % $UMod " +
          s"ELSE $h::HUGEINT END::UBIGINT"))
    }
    val four = Seq(
      "u32" -> tokLE("(len//8)*8", 4),
      "fx" -> uXor("h3", uMul("u32", XP1)),
      "h4" -> (s"CASE WHEN len % 8 >= 4 THEN " +
        s"((${uMul(uRotl("fx", 23), XP2)})::HUGEINT + $XP3) % $UMod " +
        s"ELSE h3::HUGEINT END::UBIGINT"))
    val tail = (0 until 3).flatMap { j =>
      val h = if (j == 0) "h4" else s"h5${j - 1}"
      Seq(
        s"tb$j" -> tokByte(s"(len//4)*4 + $j"),
        s"tx$j" -> uXor(h, uMul(s"tb$j", XP5)),
        s"h5$j" -> (s"CASE WHEN len % 4 > $j THEN " +
          s"${uMul(uRotl(s"tx$j", 11), XP1)} ELSE $h END"))
    }
    val avalanche = Seq(
      "f1" -> uXor("h52", "(h52 >> 33)"),
      "f2" -> uMul("f1", XP2),
      "f3" -> uXor("f2", "(f2 >> 29)"),
      "f4" -> uMul("f3", XP3),
      "hout" -> uXor("f4", "(f4 >> 32)"))
    init ++ words ++ four ++ tail ++ avalanche
  }

  /** The q_dedup_simhash oracle: per-token xxh64 (chain above) → 64
    * CASE-sum bit majorities → signature packed back to a signed
    * BIGINT → all (a < b) pairs within hamming 3. The quadratic pair
    * join is the ORACLE's price, not the engine's (the graded corpus
    * is 500 docs; Spark's chunk-banded plan is the scale path).
    */
  private def simhashOracle(): String = {
    val tokq = xxh64TokenSteps().foldLeft(
      "SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents") {
      case (inner, (k, e)) => s"SELECT *, $e AS $k FROM ($inner)"
    }
    val bits = (0 until 64).map(k =>
      s"(sum(CASE WHEN (hout >> $k) & 1 = 1 THEN 1 ELSE -1 END) > 0)::UBIGINT" +
        s" * ${BigInt(1) << k}::UBIGINT AS bit$k").mkString(",\n    ")
    val sigsum = (0 until 64).map(k => s"bit$k::HUGEINT").mkString(" + ")
    s"""WITH hashes AS ($tokq),
       |sigu AS (SELECT doc_id, $bits FROM hashes GROUP BY doc_id),
       |s AS (SELECT doc_id,
       |  CASE WHEN ($sigsum) >= 9223372036854775808::HUGEINT
       |       THEN (($sigsum) - 18446744073709551616::HUGEINT)::BIGINT
       |       ELSE ($sigsum)::BIGINT END AS sig
       |  FROM sigu)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       bit_count(xor(a.sig, b.sig))::INT AS hamming
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin
  }

  /** The q_dedup_minhash oracle: the whole MinHash+LSH sketch
    * replayed in DuckDB (the SimHash HUGEINT precedent, one level
    * deeper). Per-word xxh64(seed 42) with POSITIONS → word-trigram
    * shingle hashes by the same mod-2^64 polynomial combine
    * (h·1000003 + wordHash, short docs truncate like MinHashBands) →
    * 128 permutation minima via xxh64-of-a-long under VARIABLE seeds
    * k = 0..127 ([[xxh64StepsVarSeed]]) — minima taken in SIGNED
    * 64-bit order, matching MinHashBands' `salted < mins(k)` over
    * Long (TextHashExpressions.scala:53); the oracle replays that by
    * flipping the sign bit before min and flipping back after
    * (xor 2^63 is an order isomorphism signed→unsigned) → 32 band
    * hashes, each a
    * 4-step xxh64 fold seeded by the band index then the running
    * hash → distinct (a < b) pairs sharing any (band, band_hash).
    * The bucket cap is budget-adaptive and does not bind at graded
    * scales (spec-pinned), so the oracle joins uncapped. Every step
    * is unsigned mod-2^64 HUGEINT arithmetic — the sketch itself is
    * hash-graded, not merely its verified-pair twin
    * (q_dedup_minhash_v).
    */
  /** The q_ann_ivf_kmeans oracle: the fixed-round Lloyd fit unrolled
    * into chained CTEs (the q_bpe_train precedent). Per round:
    * assignment = argmin of −dot(emb, centroid) with ties to the
    * lower cell id (list_dot_product's sequential accumulation =
    * IvfBestCells' left-to-right double loop), then the per-(cell,
    * dim) mean via the exact-decimal recipe refineCentroids shares
    * with groupCentroids — sum of DECIMAL(38,18) components (VARCHAR
    * hop on the DuckDB side so double↔decimal conversions round
    * identically), decimal→double→FLOAT→double so the replayed
    * centroid carries exactly the float the model stores. Cells that
    * lose every member keep their previous centroid (LEFT JOIN +
    * coalesce = the getOrElse in refineCentroids). After 2 rounds,
    * the standard IVF search replay (q_ann_ivf's tail).
    */
  private def ivfKmeansOracle(): String = {
    def round(prev: String, next: String): String =
      s"""a_$next AS (SELECT vec_id, cell_id FROM (
         |  SELECT e.vec_id, c.cell_id,
         |   ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |     ORDER BY -list_dot_product(e.emb, c.c_emb) ASC, c.cell_id ASC) AS rn
         |  FROM e, $prev c) WHERE rn = 1),
         |m_$next AS (SELECT cell_id, list(mv ORDER BY pos) AS cl FROM (
         |  SELECT a.cell_id, i - 1 AS pos,
         |   CAST(CAST(CAST(CAST(sum(CAST(CAST(e.emb[i] AS VARCHAR) AS DECIMAL(38,18)))
         |     AS VARCHAR) AS DOUBLE) / count(*) AS FLOAT) AS DOUBLE) AS mv
         |  FROM a_$next a JOIN e ON e.vec_id = a.vec_id CROSS JOIN range(1, 65) t(i)
         |  GROUP BY 1, 2) GROUP BY cell_id),
         |$next AS (SELECT s.cell_id, coalesce(m.cl, s.c_emb) AS c_emb
         |  FROM $prev s LEFT JOIN m_$next m ON m.cell_id = s.cell_id)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |cent0 AS (SELECT vec_id AS cell_id, emb AS c_emb FROM e WHERE vec_id < 16),
       |${round("cent0", "cent1")},
       |${round("cent1", "cent2")},
       |cells AS (SELECT vec_id, emb, c_norm, cell_id FROM (
       |  SELECT e.vec_id, e.emb, sqrt(list_dot_product(e.emb, e.emb)) AS c_norm, c.cell_id,
       |   ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |     ORDER BY -list_dot_product(e.emb, c.c_emb) ASC, c.cell_id ASC) AS rn
       |  FROM e, cent2 c) WHERE rn = 1),
       |q AS (SELECT query_id, qe, q_norm, cell_id FROM (
       |  SELECT e.vec_id AS query_id, e.emb AS qe,
       |   sqrt(list_dot_product(e.emb, e.emb)) AS q_norm, c.cell_id,
       |   ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |     ORDER BY -list_dot_product(e.emb, c.c_emb) ASC, c.cell_id ASC) AS rn
       |  FROM e, cent2 c WHERE e.vec_id < 5) WHERE rn <= 4),
       |scored AS (
       |  SELECT q.query_id, cells.vec_id AS neighbor_id,
       |   list_dot_product(q.qe, cells.emb) / q.q_norm / cells.c_norm AS cos_sim
       |  FROM q JOIN cells ON q.cell_id = cells.cell_id
       |  WHERE cells.vec_id <> q.query_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |       ORDER BY cos_sim DESC, neighbor_id) AS rnk FROM scored)
       |SELECT query_id, neighbor_id, rnk, cos_sim FROM r WHERE rnk <= 10""".stripMargin
  }

  /** The q_dedup_minhash_mid corpus: documents plus, for each doc, a
    * variant keeping the first ⌈0.55·n⌉ words (doc_id + 1000000).
    * Planted pairs sit at shingle-Jaccard ≈ 0.55, where a band
    * collides only when all 4 permutation minima agree — the regime
    * where signed-vs-unsigned min order changes the pair set (the
    * high-Jaccard graded fixture can't tell them apart). Spark twin
    * in queries("q_dedup_minhash_mid").
    */
  private val midJaccardDocsRel: String =
    "(SELECT doc_id, text FROM documents UNION ALL " +
      "SELECT doc_id + 1000000 AS doc_id, " +
      "array_to_string(ws[1:greatest(cast(ceil(0.55*len(ws)) AS INT), 1)], ' ') AS text " +
      "FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))"

  private def minhashOracle(docsRel: String = "documents"): String = {
    val tokq = xxh64TokenSteps().foldLeft(
      "SELECT doc_id, i, ws[i] AS tok FROM " +
        s"(SELECT doc_id, string_split(text, ' ') AS ws FROM $docsRel), " +
        "unnest(range(1, len(ws)+1)) AS u(i)") {
      case (inner, (k, e)) => s"SELECT *, $e AS $k FROM ($inner)"
    }
    val mul = BigInt(1000003)
    val g2 = s"CASE WHEN i+1 <= len(hs) THEN (((${uMul("g1", mul)})::HUGEINT" +
      s" + hs[i+1]::HUGEINT) % $UMod)::UBIGINT ELSE g1 END"
    val g3 = s"CASE WHEN i+2 <= len(hs) THEN (((${uMul("g2", mul)})::HUGEINT" +
      s" + hs[i+2]::HUGEINT) % $UMod)::UBIGINT ELSE g2 END"
    val salted = xxh64StepsVarSeed("sh", "k", "s").foldLeft(
      "SELECT doc_id, sh, k FROM sh3, unnest(range(0, 128)) AS u(k)") {
      case (inner, (kk, e)) => s"SELECT *, $e AS $kk FROM ($inner)"
    }
    val bands = (0 until 4).flatMap { r =>
      val seed = if (r == 0) "b::UBIGINT" else s"r${r - 1}out"
      xxh64StepsVarSeed(s"v$r", seed, s"r$r")
    }.foldLeft(
      "SELECT doc_id, b, m[4*b+1]::UBIGINT AS v0, m[4*b+2]::UBIGINT AS v1, " +
        "m[4*b+3]::UBIGINT AS v2, m[4*b+4]::UBIGINT AS v3 " +
        "FROM mlist, unnest(range(0, 32)) AS u(b)") {
      case (inner, (kk, e)) => s"SELECT *, $e AS $kk FROM ($inner)"
    }
    s"""WITH hashes AS ($tokq),
       |lists AS (SELECT doc_id, list(hout ORDER BY i) AS hs FROM hashes GROUP BY doc_id),
       |spos AS (SELECT doc_id, hs, i FROM lists, unnest(range(1, greatest(len(hs)-2, 1)+1)) AS u(i)),
       |sh1 AS (SELECT doc_id, hs, i, hs[i]::UBIGINT AS g1 FROM spos),
       |sh2 AS (SELECT doc_id, hs, i, $g2 AS g2 FROM sh1),
       |sh3 AS (SELECT DISTINCT doc_id, $g3 AS sh FROM sh2),
       |salted AS ($salted),
       |mins AS (SELECT doc_id, k, xor(min(xor(sout, 9223372036854775808::UBIGINT)), 9223372036854775808::UBIGINT) AS mv FROM salted GROUP BY 1, 2),
       |mlist AS (SELECT doc_id, list(mv ORDER BY k) AS m FROM mins GROUP BY doc_id),
       |bands AS ($bands)
       |SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
       |FROM bands a JOIN bands b2 ON a.b = b2.b AND a.r3out = b2.r3out AND a.doc_id < b2.doc_id""".stripMargin
  }

  /** Shared CTE chain of the two LSH oracles: the random-hyperplane
    * sign matrix sign(p, i) = ±1 from bit 1 of xxh64(p, seed =
    * xxh64(i, 42)) — both hashes replayed via [[xxh64StepsVarSeed]] —
    * then per-vector bucket bits by SIGN of a left-to-right double
    * dot product (DuckDB's list_dot_product accumulates sequentially,
    * matching LshBucket's eval loop, and ±1.0 multiplication is
    * exact, so the sign — and hence the bucket id — is bit-exact).
    * Ends with `c(vec_id, bucket, emb, nrm)`.
    */
  private def lshBucketCtes(bits: Int, dims: Int): String = {
    val grid = (xxh64StepsVarSeed("i::UBIGINT", "42::UBIGINT", "a") ++
      xxh64StepsVarSeed("p::UBIGINT", "aout", "b")).foldLeft(
      s"SELECT p, i FROM unnest(range(0, $bits)) AS up(p), " +
        s"unnest(range(0, $dims)) AS ui(i)") {
      case (inner, (k, e)) => s"SELECT *, $e AS $k FROM ($inner)"
    }
    s"""grid AS ($grid),
       |signs AS (SELECT p, list(CASE WHEN (bout >> 1) & 1 = 1 THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END ORDER BY i) AS sl
       |          FROM grid GROUP BY p),
       |vecs AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |dots AS (SELECT vec_id, p, list_dot_product(emb, sl) AS d FROM vecs, signs),
       |buckets AS (SELECT vec_id, sum(CASE WHEN d > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
       |            FROM dots GROUP BY vec_id),
       |c AS (SELECT vec_id, bucket, emb, sqrt(list_dot_product(emb, emb)) AS nrm
       |      FROM vecs JOIN buckets USING (vec_id))""".stripMargin
  }

  /** The q_ann_lsh oracle: same-bucket (a < b) pairs at or above the
    * cosine threshold, every arithmetic step bit-exact (see
    * [[lshBucketCtes]]).
    */
  private def lshPairsOracle(): String =
    s"""WITH ${lshBucketCtes(8, 64)}
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |       list_dot_product(a.emb, b.emb) / a.nrm / b.nrm AS cos_sim
       |FROM c a JOIN c b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE list_dot_product(a.emb, b.emb) / a.nrm / b.nrm >= 0.3""".stripMargin

  /** The q_ann_lsh_topk oracle: each query probes every bucket within
    * hamming distance `hammingProbes` of its own (the same xor-mask
    * set lshTopK enumerates, inlined as literals), then the exact
    * q_ann_topk ranking replay — ROW_NUMBER over (cos desc,
    * neighbor_id asc), the TopK aggregate's tie order.
    */
  private def lshTopKOracle(): String = {
    val bits = 6
    def choose(from: Int, left: Int): Seq[Long] =
      if (left == 0) Seq(0L)
      else (from until bits).flatMap(i => choose(i + 1, left - 1).map(_ | (1L << i)))
    val masks = (0 to 2).flatMap(choose(0, _)).sorted
    s"""WITH ${lshBucketCtes(bits, 64)},
       |probes AS (SELECT c.vec_id AS query_id, c.emb AS qe, c.nrm AS qn,
       |                  xor(c.bucket, m) AS bucket
       |           FROM c, unnest([${masks.mkString(",")}]) AS um(m)
       |           WHERE c.vec_id < 5),
       |scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
       |    list_dot_product(q.qe, c.emb) / q.qn / c.nrm AS cos_sim
       |  FROM probes q JOIN c USING (bucket) WHERE c.vec_id <> q.query_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |       ORDER BY cos_sim DESC, neighbor_id) AS rnk FROM scored)
       |SELECT query_id, neighbor_id, rnk, cos_sim FROM r WHERE rnk <= 10""".stripMargin
  }

  /** The q_sketch_cascade oracle: graft's own HLL sketch replayed in
    * DuckDB. Register-max is associative, so the 5-minute→daily
    * cascade equals day-level registers computed directly from raw
    * rows (the cascade==direct identity a spec already pins) — the
    * oracle builds those: per-user xxh64(seed 42) → register index =
    * top p bits, rank = leading zeros of the remaining bits + 1
    * (binary-search CASE chain, exact integer logic, saturating at
    * 64−p+1) → max per register → the Flajolet/Heule estimate with
    * the inverse-power sum folded in REGISTER ORDER via list_reduce
    * (bit-identical to HllBuffer.estimate's loop), the alpha(m)
    * constant formula, the linear-counting branch (DuckDB ln matches
    * Math.log on these arguments — verified exact at the graded
    * corpus), and Spark's truncate-toward-zero long cast.
    */
  private def hllCascadeOracle(): String = {
    val p = 12
    val m = 1 << p
    val sat = 64 - p + 1
    val hashes = xxh64Steps("user_id::UBIGINT", 42L, "x").foldLeft(
      "SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS bucket_start, " +
        "event_type, user_id FROM events") {
      case (inner, (k, e)) => s"SELECT *, $e AS $k FROM ($inner)"
    }
    val nlz: Seq[(String, String)] = {
      var prev = "wv"
      val steps = Seq(32, 16, 8, 4, 2, 1).flatMap { sh =>
        val out = Seq(
          s"s$sh" -> s"CASE WHEN (($prev) >> $sh) > 0 THEN $sh ELSE 0 END",
          s"v$sh" -> s"(($prev) >> s$sh)")
        prev = s"v$sh"
        out
      }
      steps ++ Seq(
        "bitlen" -> "s32 + s16 + s8 + s4 + s2 + s1 + 1",
        "rank" -> s"CASE WHEN wv = 0 THEN $sat ELSE 65 - bitlen END")
    }
    val ranked = nlz.foldLeft(
      s"SELECT bucket_start, event_type, (xout >> ${64 - p}) AS idx, " +
        s"((xout::HUGEINT * $m) % $UMod)::UBIGINT AS wv FROM hashes") {
      case (inner, (k, e)) => s"SELECT *, $e AS $k FROM ($inner)"
    }
    s"""WITH hashes AS ($hashes),
       |ranked AS ($ranked),
       |regs AS (SELECT bucket_start, event_type, idx, max(rank) AS rmax
       |         FROM ranked GROUP BY 1, 2, 3),
       |groups AS (SELECT DISTINCT bucket_start, event_type FROM regs),
       |grid0 AS (SELECT g.bucket_start, g.event_type, u.i AS idx
       |          FROM groups g CROSS JOIN (SELECT unnest(range(0, $m)) AS i) u),
       |grid AS (SELECT grid0.bucket_start, grid0.event_type, grid0.idx,
       |           coalesce(r.rmax, 0) AS reg
       |         FROM grid0 LEFT JOIN regs r ON r.bucket_start = grid0.bucket_start
       |           AND r.event_type = grid0.event_type AND r.idx = grid0.idx),
       |folded AS (SELECT bucket_start, event_type,
       |    list_reduce(list(pow(2.0, -reg) ORDER BY idx), (a, b) -> a + b) AS inv_sum,
       |    sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS zeros
       |  FROM grid GROUP BY 1, 2),
       |est AS (SELECT bucket_start, event_type,
       |    (0.7213 / (1.0 + 1.079 / $m.0)) * $m.0 * $m.0 / inv_sum AS e_raw,
       |    zeros FROM folded),
       |fin AS (SELECT bucket_start, event_type,
       |    CASE WHEN e_raw <= 2.5 * $m AND zeros > 0
       |         THEN $m.0 * ln($m.0 / zeros) ELSE e_raw END AS e
       |  FROM est),
       |nv AS (SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS bucket_start,
       |         event_type, count(*) AS n_events FROM events GROUP BY 1, 2)
       |SELECT f.bucket_start, f.event_type,
       |       CAST(trunc(f.e) AS BIGINT) AS est_users, nv.n_events
       |FROM fin f JOIN nv USING (bucket_start, event_type)""".stripMargin
  }

  /** One BPE merge rewrite in DuckDB SQL: the double-space padding
    * identity (see the q_bpe_train oracle comment).
    */
  private def bpeMergeStep(s: String, a: String, b: String): String =
    s"trim(replace(replace(' ' || replace($s,' ','  ') || ' ', " +
      s"' ' || $a || '  ' || $b || ' ', ' ' || $a || $b || ' '), '  ', ' '))"

  /** The shared CTE chain of both BPE oracles: vocabulary → spaced
    * symbol strings → ($BpeMerges ×) pair count, argmax, rewrite.
    */
  private def bpeTrainCtes(): String = {
    val head = Seq(
      """words AS (
        |  SELECT w, count(*)::BIGINT AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w)""".stripMargin,
      """v0 AS (SELECT trim(regexp_replace(w, '(?s)(.)', '\1 ', 'g')) AS s, n FROM words)""")
    val rounds = (1 to BpeMerges).flatMap { k =>
      Seq(
        s"""p$k AS (
           |  SELECT sy[i] AS a, sy[i+1] AS b, sum(n)::BIGINT AS freq
           |  FROM (SELECT string_split(s, ' ') AS sy, n FROM v${k - 1}),
           |       unnest(range(1, len(sy))) AS u(i)
           |  GROUP BY 1, 2)""".stripMargin,
        s"m$k AS (SELECT a, b, freq FROM p$k ORDER BY freq DESC, a, b LIMIT 1)",
        s"v$k AS (SELECT ${bpeMergeStep("v.s", "m.a", "m.b")} AS s, v.n " +
          s"FROM v${k - 1} v CROSS JOIN m$k m)")
    }
    (head ++ rounds).mkString(",\n")
  }
}
