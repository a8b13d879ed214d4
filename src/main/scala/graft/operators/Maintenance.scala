package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Warehouse-maintenance operators: cfg-table (dimension) extraction,
  * thinout (retention), idempotent delete+reload, error summarization.
  *
  * Reference semantics: HlxTools.py:534-573 (CfgTable scheduling),
  * HlxTools.py:610-655 (thinout rules per granularity suffix),
  * HlxTools.py:372-394 (delete by datetime before reload),
  * HlxTools.py:315-350 (DBL error-file parsing → per-table error list).
  */
object Maintenance {

  /** Cfg-table extraction: the distinct entity keys observed in the
    * feed. Partial-agg distinct → one small shuffle; at scale this is
    * the map-side-combined dimension harvest the reference schedules
    * as "CfgTable" tasks.
    */
  def cfgExtract(events: DataFrame): DataFrame =
    events.select(col("user_id"), col("event_type")).distinct()

  /** Thinout: drop rows older than the retention cutoff. The filter is
    * a pure predicate on a stored column, so it reaches the parquet
    * scan (PushedFilters) and on a date-partitioned table becomes
    * partition pruning — no data read for expired partitions.
    */
  def thinout(df: DataFrame, tsCol: String, cutoff: org.apache.spark.sql.Column): DataFrame =
    df.filter(col(tsCol) >= cutoff)

  /** Idempotent delete+reload (the reference deletes target-table rows
    * for every DATETIME present in the incoming feed, then reloads).
    * Spark-first this is dynamic partition overwrite; expressed as a
    * plan: keep existing rows whose bucket is NOT in the incoming
    * bucket set (left_anti on the bucket key — broadcastable since the
    * distinct-bucket side is tiny), then union the incoming rows.
    */
  def deleteReload(existing: DataFrame, incoming: DataFrame, bucketCol: String): DataFrame = {
    val buckets = incoming.select(bucketCol).distinct()
    existing
      .join(broadcast(buckets), Seq(bucketCol), "left_anti")
      .unionByName(incoming)
  }

  /** Row-level MERGE/upsert: every `keyCols` row present in
    * `incoming` replaces its `base` row; unmatched base rows survive.
    * The complement of [[deleteReload]] — that one replaces whole
    * datetime buckets (the reference's unit), this one replaces
    * individual keys when a feed re-delivers corrections. One
    * anti-join on the key (AQE picks broadcast when the delta is
    * small — the common shape — and a shuffle join when it is not)
    * plus a union; never a full-table window.
    */
  def upsert(base: DataFrame, incoming: DataFrame, keyCols: Seq[String]): DataFrame =
    base
      .join(incoming.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
      .unionByName(incoming)

  /** CDC apply — C9's upsert completed with DELETE markers and
    * change ordering (the shape every log-based replication feed
    * delivers): `changes` carries the base's payload columns plus an
    * `op` ∈ I/U/D and ordering columns; per key the LATEST change
    * wins (one window over the changes table only — the base never
    * sorts), a winning D removes the key, a winning I/U replaces its
    * row, untouched base keys pass through an anti-join (AQE
    * broadcasts small change batches). Output is exactly the base
    * schema — apply is idempotent for a fixed change set.
    */
  def applyCdc(base: DataFrame, changes: DataFrame, key: String,
               ordCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ordCols should totally order a key's changes (every real CDC
    // feed carries an LSN/offset that does); if two changes ever tie
    // on all of them, a whole-row hash breaks the tie
    // DETERMINISTICALLY — a replay picks the same winner every time
    // (two rows that still tie are byte-identical, so the pick is
    // immaterial) — instead of row_number's partition-order roulette.
    val tieBreak = xxhash64(changes.columns.map(col): _*).desc
    val w = Window.partitionBy(col(key))
      .orderBy(ordCols.map(c => col(c).desc) :+ tieBreak: _*)
    val latest = changes
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
    base
      .join(changes.select(col(key)).distinct(), Seq(key), "left_anti")
      .unionByName(
        latest.filter(col("op") =!= "D")
          .select(base.columns.map(col): _*))
  }

  /** Time-travel snapshot: reconstruct the table state AS OF a point
    * in the change stream — the "what did this row look like before
    * Tuesday's batch" read that log-based warehouses (Delta/Iceberg
    * time travel) answer from retained change history. The change
    * stream is truncated to `ordCol ≤ asOf` and replayed through
    * [[applyCdc]]'s winner-per-key semantics, so the snapshot is
    * exactly the state a reader at that moment would have seen, and
    * successive snapshots are consistent with each other (same
    * ordering discipline, same deterministic tie-break).
    *
    * Scale: the truncation is a pushdown-able filter on the change
    * stream; everything after is applyCdc's shape — one window over
    * changes only, one anti-join, the base never sorts.
    */
  def snapshotAt(base: DataFrame, changes: DataFrame, key: String,
                 ordCol: String, asOf: Any): DataFrame =
    applyCdc(base, changes.filter(col(ordCol) <= lit(asOf)), key, Seq(ordCol))

  /** Physical idempotent reload: write `incoming` into a
    * `partitionCol`-partitioned parquet table with dynamic partition
    * overwrite — only the partitions present in `incoming` are
    * replaced, the exact semantics of the reference's
    * delete-by-datetime-then-load (HlxTools.py:372-394) without a
    * delete pass. At 100 TB this touches only the reloaded
    * datetime partitions.
    */
  def overwritePartitions(incoming: DataFrame, path: String, partitionCol: String): Unit =
    overwritePartitions(incoming, path, Seq(partitionCol))

  /** Multi-column variant (e.g. bucket + batch-id delta partitions). */
  def overwritePartitions(incoming: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    // AQE rebalance on the partition columns before the partitioned
    // write (guide §6 "coalesce on write"): without it every input
    // task opens a file in every partition dir it holds rows for —
    // tasks × partitions small files per load, each paying open +
    // commit-protocol rename. Rebalance clusters rows by partition
    // value at AQE's advisory size, so a load writes ~one right-sized
    // file per partition (and AQE splits a skewed partition instead
    // of funneling it to one task — the scale-safe form of
    // repartition(partitionCols)). Dynamic overwrite is a per-write
    // option, not the session conf: flipping the conf and restoring it
    // would race with a concurrent stream's writes in the same session.
    incoming.hint("rebalance", partitionCols.map(col): _*)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).parquet(path)
  }

  /** Per-granularity retention rule table — the reference drives
    * thinout from a suffix→retention DECODE chain (HlxTools.py:
    * 620-628: 5M/15M/HH 30d, HR 90d, DY 3650d, WK 3600d, MO/YR 3y).
    * `rules` maps table suffix → retention days; every table whose
    * suffix has a rule is thinned to `asOf - days`, others pass
    * through. Each thinout is a pushed-down scan predicate, so the
    * sweep reads only surviving partitions.
    */
  def retentionSweep(tables: Map[String, DataFrame], tsCol: String,
                     rules: Map[String, Int], asOf: java.time.Instant): Map[String, DataFrame] =
    tables.map { case (name, df) =>
      val suffix = name.substring(name.lastIndexOf('_') + 1)
      name -> rules.get(suffix).map { days =>
        val cutoff = java.sql.Timestamp.from(asOf.minus(java.time.Duration.ofDays(days.toLong)))
        thinout(df, tsCol, lit(cutoff))
      }.getOrElse(df)
    }

  /** The reference's standard suffix→days retention chain. */
  val defaultRetentionDays: Map[String, Int] = Map(
    "5M" -> 30, "15M" -> 30, "HH" -> 30, "HR" -> 90,
    "DY" -> 3650, "WK" -> 3600, "MO" -> 1095, "YR" -> 1095)

  /** DBL error-file parsing (HlxTools.py:315-350): raw loader-log text
    * → structured per-table rows. A log interleaves `Table <schema>.
    * <name>_<suffix>, ...` headers with `ORA-…` errors, `Record N:
    * <err>` bad-record lines, and `… Rows …` load statistics; each
    * line belongs to the most recent Table header above it. That
    * "current table" state is a running `last(…, ignoreNulls)` window
    * per file — per-file partitioning, so log parsing never shuffles
    * across files.
    */
  def parseDblErrors(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    parseDblErrorLines(graft.etl.ChillPipeline.textLines(spark, path)
      .select(col("_file").as("log_file"), col("value"), monotonically_increasing_id().as("_ord")))

  /** Line-level form of [[parseDblErrors]]: `lines` carries
    * (log_file, value, _ord) — the path form feeds it from raw text,
    * and the driver-graded query feeds it a deterministic synthetic
    * log so the DuckDB oracle can replay the same parse.
    */
  def parseDblErrorLines(lines: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("log_file"))
      .orderBy(col("_ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lines
      .withColumn("_tbl",
        last(when(col("value").startsWith("Table "), col("value")), ignoreNulls = true).over(w))
      .withColumn("kind",
        when(col("value").startsWith("ORA-"), "oracle_error")
          .when(col("value").startsWith("Record "), "record_error")
          .when(col("value").contains("Rows"), "stats"))
      .filter(col("kind").isNotNull && col("_tbl").isNotNull)
      .select(
        col("log_file"),
        // "Table SCHEMA.NAME_SUFFIX, ..." → NAME (strip schema+suffix)
        regexp_replace(
          regexp_extract(col("_tbl"), "^Table ([^,]+)", 1),
          "^[^.]*\\.|_[^_]+$", "").as("table_name"),
        col("kind"),
        when(col("kind") === "record_error",
            trim(regexp_extract(col("value"), "^Record [^:]*:(.*)$", 1)))
          .otherwise(col("value")).as("detail"))
      .distinct()
  }

  /** Error summarization: group raw error events into (day, code)
    * buckets with counts — the Spark analogue of parsing DBL error
    * logs into a per-table error report.
    */
  def errorSummary(events: DataFrame): DataFrame =
    events
      .filter(col("event_type") === "error")
      .select(
        to_date(col("ts")).as("day"),
        // from_json reuses one Jackson parser per partition;
        // get_json_object re-parses per row (~100µs/row at scale)
        (from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k") % 10).as("error_code"))
      .groupBy(col("day"), col("error_code"))
      .agg(count(lit(1)).as("n_errors"))

  /** Feed-staleness report: each counter family's last-seen day
    * against the feed's overall latest day — the "which feed stopped
    * arriving" ops check run before anyone trusts a rollup. One
    * map-side-combined pass collapses the feed to |types| rows; the
    * anchor day rides a one-row broadcast (never a second feed scan);
    * `days_stale` and the flag are exact date arithmetic.
    */
  def feedStaleness(events: DataFrame): DataFrame = {
    val perType = events
      .groupBy(col("event_type"))
      .agg(max(to_date(col("ts"))).as("last_day"),
        count(lit(1)).as("n_events"))
    val anchor = perType.agg(max(col("last_day")).as("feed_day"))
    perType
      .crossJoin(broadcast(anchor))
      .withColumn("days_stale", datediff(col("feed_day"), col("last_day")))
      .withColumn("is_stale", col("days_stale") > 0)
  }
}
