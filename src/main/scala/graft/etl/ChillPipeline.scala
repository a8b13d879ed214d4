package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The config-driven ETL executor: raw feed → field rules → routing
  * into per-table outputs, mirroring Partrans.parse_data
  * (Partrans.py:210-364) Spark-first.
  *
  * The reference loops files, evals field functions row-by-row, and
  * appends pandas frames per table. Here the whole feed is one scan;
  * routing is a filter per target table over the shared, cached plan
  * (a single pass at scale — Spark re-uses the scan via the same
  * underlying RDD when the outputs are written in one job, and the
  * per-table predicate is pushed to parquet when routing keys are
  * partition columns).
  */
final case class TableRoute(
    table: String,
    /** Predicate selecting this table's rows (the reference maps the
      * OM_GROUP value to a table via the HLD Tables sheet). */
    predicate: org.apache.spark.sql.Column,
    /** Columns to keep, in order. */
    columns: Seq[String],
    /** Per-table rules applied AFTER routing/projection — the HLD's
      * TYPE=KPI formula columns, computed over this table's counters
      * (the reference loads counters and leaves KPIs to DB-side
      * formulas; here they stay in the same projection).
      */
    postRules: Seq[FieldRule] = Nil)

object ChillPipeline {

  /** Apply field rules then split the feed into the configured target
    * tables. Returns table name → DataFrame.
    */
  def run(raw: DataFrame, rules: Seq[FieldRule], routes: Seq[TableRoute]): Map[String, DataFrame] =
    route(FieldRule.applyAll(raw, rules), routes)

  /** Routing alone, over an already-transformed feed — split out so a
    * multi-table write can persist the transformed feed ONCE and fan
    * the routes out from the cache (see [[LibraryRun.run]]), instead
    * of every route's action re-parsing the raw text.
    */
  def route(transformed: DataFrame, routes: Seq[TableRoute]): Map[String, DataFrame] =
    routes.map { r =>
      r.table -> FieldRule.applyAll(
        transformed.filter(r.predicate).select(r.columns.map(col): _*), r.postRules)
    }.toMap

  /** Raw CSV source with the reference's line-level controls
    * (Partrans.py:98-122, 222-236): `valid_lines` slice — drop the
    * first `skipHeader` and last `skipFooter` lines of each file —
    * and `ignore_lines` exact-match drops, then delimiter-split into
    * named columns.
    *
    * The body of the feed is never exchanged: line numbers come from
    * a tiny per-split aggregate broadcast back onto the scan (see
    * [[sliceLines]]), so a 10 GB file is sliced by its parallel
    * splits instead of being funneled through one task.
    */
  def rawCsv(spark: SparkSession, path: String, delimiter: String,
             columns: Seq[String], skipHeader: Int, skipFooter: Int,
             ignoreLines: Set[String]): DataFrame =
    rawCsvFrom(spark, path, textLines(spark, path), delimiter, columns,
      skipHeader, skipFooter, ignoreLines)

  /** [[rawCsv]] over the [[textLines]] of `path` the caller already
    * holds — so a caller that also derives tag columns from the same
    * lines ([[withTagColumnsFrom]]) lists the files once, not twice.
    */
  def rawCsvFrom(spark: SparkSession, path: String, lines: DataFrame, delimiter: String,
                 columns: Seq[String], skipHeader: Int, skipFooter: Int,
                 ignoreLines: Set[String]): DataFrame = {
    // empty columns = derive them from the feed's own header line,
    // the reference's read_csv default (header inside the slice);
    // the body parse then starts one line later
    val (cols, skip) =
      if (columns.nonEmpty) (columns, skipHeader)
      else (headerColumns(spark, path, delimiter, skipHeader, ignoreLines), skipHeader + 1)
    sliceLines(lines, delimiter, cols, skip, skipFooter, ignoreLines)
  }

  /** The `(_file, value)` line set of the text files under `path`.
    * Building it lists the files (a Spark job once a glob matches more
    * than `parallelPartitionDiscovery.threshold` paths); every frame
    * derived from it reuses that listing.
    */
  def textLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).select(input_file_name().as("_file"), col("value"))

  /** Raw column names from the feed itself — the reference's
    * `pd.read_csv(stream, sep=delimiter)` semantics (Partrans.py:
    * 222-236): after the valid-lines slice and ignore-lines filter,
    * the FIRST remaining line is the header. Driver-side peek of one
    * file (the lexicographically first match — in the Chill model all
    * files of a feed share one layout), so no Spark job runs.
    */
  def headerColumns(spark: SparkSession, path: String, delimiter: String,
                    skipHeader: Int, ignoreLines: Set[String]): Seq[String] = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matches = Option(fs.globStatus(hPath)).getOrElse(Array.empty)
      .filter(_.isFile).map(_.getPath)
    require(matches.nonEmpty, s"headerColumns: no files match $path")
    val first = matches.minBy(_.toString)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(first), java.nio.charset.StandardCharsets.UTF_8))
    try {
      val header = Iterator.continually(in.readLine()).takeWhile(_ != null)
        .drop(skipHeader).filterNot(ignoreLines.contains).take(1).toSeq.headOption
        .getOrElse(throw new IllegalArgumentException(
          s"headerColumns: $first has no line left after the valid-lines slice"))
      header.split(java.util.regex.Pattern.quote(delimiter), -1).map(_.trim).toSeq
    } finally in.close()
  }

  /** The line-slicing + delimiter-split core of [[rawCsv]], over any
    * `(_file, value)` line set — also the per-batch parser of the
    * streaming library run, where the lines arrive from a file stream
    * instead of a batch scan.
    *
    * Scale design: skip-header/footer needs per-file line numbers,
    * but only the boundary lines of each file matter — so the body is
    * NEVER exchanged. A second, tiny subtree aggregates one row per
    * (split, file): line count and the min/max `monotonically_
    * increasing_id` of the chunk. Per-file cumulative offsets over
    * those chunks (a window over split-count rows, not feed rows) are
    * broadcast back onto the scan, and a row's line number is
    * `chunk_offset + (mid − chunk_min) + 1`. The feed is scanned
    * twice (the stats scan reduces map-side to counters) but the body
    * crosses no shuffle and a big file is sliced by its parallel
    * splits instead of serializing through one task.
    *
    * The `mid − chunk_min` arithmetic requires each (split, file)
    * chunk to be a contiguous run of rows, and chunk order by split
    * id to be file order. Both hold under Spark's file-partition
    * packing: every non-tail split of a multi-split file has size
    * `maxSplitBytes` and therefore fills its partition bin alone, so
    * a partition mixing files holds only whole small files and tails
    * — each file at most once; and splits are stably size-sorted then
    * packed sequentially, so ascending partition id is ascending file
    * offset. A `raise_error` guard on the tiny side still verifies
    * contiguity at run time rather than trusting the argument.
    *
    * The two subtrees scan the same files, so input files must be
    * immutable while the query runs (the standard Spark file-source
    * contract; the Chill model writes a feed file completely before
    * the pipeline picks it up). A file growing between the two scans
    * would mis-place the footer cut without tripping the contiguity
    * guard.
    */
  def sliceLines(lines: DataFrame, delimiter: String, columns: Seq[String],
                 skipHeader: Int, skipFooter: Int, ignoreLines: Set[String]): DataFrame = {
    require(columns.nonEmpty,
      "sliceLines needs explicit columns; header derivation (empty raw_columns) " +
        "is resolved by rawCsv from the files, which a line-set source cannot do")
    val kept = slicedBody(lines, skipHeader, skipFooter, ignoreLines)
    val parts = split(col("value"), java.util.regex.Pattern.quote(delimiter))
    columns.zipWithIndex.foldLeft(kept) { case (acc, (c, i)) =>
      acc.withColumn(c, parts.getItem(i))
    }.drop("value")
  }

  /** The valid-lines slice + ignore-lines filter shared by the
    * delimiter ([[sliceLines]]) and positional ([[sliceFixedWidth]])
    * parsers, over any `(_file, value)` line set.
    */
  def slicedBody(lines: DataFrame, skipHeader: Int, skipFooter: Int,
                 ignoreLines: Set[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val body =
      if (skipHeader <= 0 && skipFooter <= 0) lines
      else {
        val marked = lines
          .withColumn("_pid", spark_partition_id())
          .withColumn("_mid", monotonically_increasing_id())
        // one row per (split, file) — ~1 row per 128 MB of feed
        val chunkStats = marked
          .groupBy(col("_pid").as("_s_pid"), col("_file").as("_s_file"))
          .agg(count(lit(1)).as("_s_cnt"), min(col("_mid")).as("_s_min"),
            max(col("_mid")).as("_s_max"))
        val fileW = Window.partitionBy(col("_s_file")).orderBy(col("_s_pid"))
        val offsets = chunkStats
          // guard lives inside _s_min (a column the join output uses)
          // so column pruning cannot drop the runtime check
          .withColumn("_s_min",
            when(col("_s_max") - col("_s_min") + 1 =!= col("_s_cnt"),
              raise_error(lit("sliceLines: non-contiguous file chunk in split"))
                .cast("long"))
              .otherwise(col("_s_min")))
          .withColumn("_s_off", coalesce(
            sum(col("_s_cnt")).over(fileW.rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .withColumn("_s_tot",
            sum(col("_s_cnt")).over(Window.partitionBy(col("_s_file"))))
        marked
          .join(broadcast(offsets),
            col("_pid") === col("_s_pid") && col("_file") === col("_s_file"))
          .withColumn("_ln", col("_s_off") + (col("_mid") - col("_s_min")) + 1)
          .filter(col("_ln") > skipHeader && col("_ln") <= col("_s_tot") - skipFooter)
          .select(col("_file"), col("value"))
      }
    body.filter(!col("value").isin(ignoreLines.toSeq: _*))
  }

  /** A positional (fixed-width) column: `start` is 1-based, `len` in
    * characters; `trimmed` strips the space padding fixed-width
    * feeds carry (numeric fields are typically left-padded, text
    * right-padded — both trim to the payload).
    */
  case class FixedWidthCol(name: String, start: Int, len: Int,
                           trimmed: Boolean = true)

  /** Fixed-width (positional) raw source — the other classic telecom
    * feed layout next to delimiter CSV (the reference's raw reader is
    * delimiter-driven, Partrans.py:222-236; positional layouts come
    * from the same mediation stacks). Same valid-lines slice /
    * ignore-lines controls as [[rawCsv]]; each column is a pure
    * `substring` projection inside the scan stage — no split, no
    * regex, codegen'd, nothing shuffles.
    */
  def rawFixedWidth(spark: SparkSession, path: String,
                    columns: Seq[FixedWidthCol], skipHeader: Int,
                    skipFooter: Int, ignoreLines: Set[String]): DataFrame =
    sliceFixedWidth(
      spark.read.text(path).select(input_file_name().as("_file"), col("value")),
      columns, skipHeader, skipFooter, ignoreLines)

  /** [[rawFixedWidth]] over an existing `(_file, value)` line set. */
  def sliceFixedWidth(lines: DataFrame, columns: Seq[FixedWidthCol],
                      skipHeader: Int, skipFooter: Int,
                      ignoreLines: Set[String]): DataFrame = {
    require(columns.nonEmpty, "sliceFixedWidth needs at least one column spec")
    val kept = slicedBody(lines, skipHeader, skipFooter, ignoreLines)
    columns.foldLeft(kept) { case (acc, c) =>
      val sliced = substring(col("value"), c.start, c.len)
      acc.withColumn(c.name, if (c.trimmed) trim(sliced) else sliced)
    }.drop("value")
  }

  /** Quoted-CSV (RFC 4180) raw source: fields may be wrapped in
    * `quote` chars to carry embedded delimiters, and a doubled quote
    * inside a quoted field is a literal quote — the semantics of the
    * reference's `pd.read_csv` (Partrans.py:222-236), which the
    * plain [[rawCsv]] split cannot honor. Parsing rides Spark's
    * native `from_csv` (codegen'd, same parser as the CSV file
    * source) per already-sliced line, so the valid-lines controls
    * compose unchanged and nothing shuffles.
    */
  def rawCsvQuoted(spark: SparkSession, path: String, columns: Seq[String],
                   skipHeader: Int, skipFooter: Int,
                   ignoreLines: Set[String], delimiter: String = ",",
                   quote: String = "\""): DataFrame =
    sliceCsvQuoted(
      spark.read.text(path).select(input_file_name().as("_file"), col("value")),
      columns, skipHeader, skipFooter, ignoreLines, delimiter, quote)

  /** [[rawCsvQuoted]] over an existing `(_file, value)` line set. */
  def sliceCsvQuoted(lines: DataFrame, columns: Seq[String],
                     skipHeader: Int, skipFooter: Int,
                     ignoreLines: Set[String], delimiter: String = ",",
                     quote: String = "\""): DataFrame = {
    require(columns.nonEmpty, "sliceCsvQuoted needs explicit columns")
    val schema = org.apache.spark.sql.types.StructType(
      columns.map(c => org.apache.spark.sql.types.StructField(
        c, org.apache.spark.sql.types.StringType)))
    val kept = slicedBody(lines, skipHeader, skipFooter, ignoreLines)
    // escape == quote → RFC 4180 doubled-quote escaping (pandas'
    // doublequote=True default), not backslash escaping
    kept
      .withColumn("_p", from_csv(col("value"), schema,
        Map("sep" -> delimiter, "quote" -> quote, "escape" -> quote)))
      .select(col("_file") +: columns.map(c => col(s"_p.$c").as(c)): _*)
  }

  /** JSON-lines raw source: one JSON object per line, parsed with
    * Spark's native `from_json` inside the scan stage — the modern
    * mediation format next to the reference's delimiter feeds, with
    * the same valid-lines slice / ignore-lines controls composing
    * unchanged. Fields absent from a line surface as NULL (classic
    * schema-on-read); a line that fails to parse yields a NULL
    * struct, kept so the caller can count and quarantine rather than
    * silently drop (`_corrupt` flags it).
    */
  def rawJsonLines(spark: SparkSession, path: String,
                   schema: org.apache.spark.sql.types.StructType,
                   skipHeader: Int = 0, skipFooter: Int = 0,
                   ignoreLines: Set[String] = Set.empty): DataFrame =
    sliceJsonLines(
      spark.read.text(path).select(input_file_name().as("_file"), col("value")),
      schema, skipHeader, skipFooter, ignoreLines)

  /** [[rawJsonLines]] over an existing `(_file, value)` line set. */
  def sliceJsonLines(lines: DataFrame,
                     schema: org.apache.spark.sql.types.StructType,
                     skipHeader: Int = 0, skipFooter: Int = 0,
                     ignoreLines: Set[String] = Set.empty): DataFrame = {
    val kept = slicedBody(lines, skipHeader, skipFooter, ignoreLines)
    // PERMISSIVE from_json yields an all-null struct for malformed
    // lines, indistinguishable from legitimately-sparse records — the
    // corrupt-record column is the reliable flag
    val withCr = schema.add("_cr", org.apache.spark.sql.types.StringType)
    kept
      .withColumn("_p", from_json(col("value"), withCr,
        Map("columnNameOfCorruptRecord" -> "_cr")))
      .select(col("_file") +:
        col("_p._cr").isNotNull.as("_corrupt") +:
        schema.fieldNames.toSeq.map(f => col(s"_p.$f").as(f)): _*)
  }

  /** Capture per-file header ("tag") lines for [[FromTag]] rules: for
    * each rule, the first raw line containing its tag is extracted per
    * file (the reference scans the whole file for the tag line,
    * Partrans.py:113-122) and joined back on the file name. Per-file
    * tag tables are tiny → broadcast join; the feed never shuffles.
    */
  def withTagColumns(spark: SparkSession, path: String, df: DataFrame,
                     tagRules: Seq[FromTag]): DataFrame =
    withTagColumnsFrom(textLines(spark, path), df, tagRules)

  /** [[withTagColumns]] over an existing `(_file, value)` line set. */
  def withTagColumnsFrom(lines: DataFrame, df: DataFrame,
                         tagRules: Seq[FromTag]): DataFrame = {
    if (tagRules.isEmpty) return df
    val ordered = lines.withColumn("_ord", monotonically_increasing_id())
    tagRules.foldLeft(df) { (acc, rule) =>
      val tagLines = ordered
        .filter(col("value").contains(rule.tag))
        .groupBy(col("_file"))
        .agg(min_by(col("value"), col("_ord")).as(s"_tag_${rule.name}"))
      acc.join(broadcast(tagLines), Seq("_file"), "left")
    }
  }
}
