package graft.etl

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{GlobPattern, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, InputFileName, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFileLinesReader, HadoopFsRelation, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** One target table of [[ChillPipeline.route]]. */
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
  *
  * Like the reference, which cuts each file's header and footer and
  * takes its tag line in the one pass that reads it (Partrans.py:
  * 98-122), a feed whose files are each read whole by one task is
  * parsed inside the scan's own tasks: the valid-lines slice
  * ([[sliceLines]]) and the tag lines ([[withTagColumnsFrom]]) run
  * no side job, exchange or join. A feed with a file large enough to
  * split, and a line set the driver cannot see files in (a stream's
  * micro-batch), are sliced by per-split chunk statistics and tagged
  * by a broadcast join instead; neither exchanges the feed body.
  */
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
    * The body of the feed is never exchanged (see [[sliceLines]]): a
    * feed of files each read whole by one task is sliced in the scan's
    * own tasks in one pass; otherwise line numbers come from a tiny
    * per-split aggregate broadcast back onto the scan, so a 10 GB file
    * is sliced by its parallel splits instead of being funneled
    * through one task. Empty `columns` take the names from the
    * feed's header line ([[headerColumns]]).
    */
  def rawCsv(spark: SparkSession, path: String, delimiter: String,
             columns: Seq[String], skipHeader: Int, skipFooter: Int,
             ignoreLines: Set[String]): DataFrame =
    rawCsvFrom(spark, textLines(spark, path), delimiter, columns,
      skipHeader, skipFooter, ignoreLines)

  /** [[rawCsv]] over a [[textLines]] line set the caller already
    * holds — so a caller that also derives tag columns from the same
    * lines ([[withTagColumnsFrom]]) lists the files once, not twice.
    */
  def rawCsvFrom(spark: SparkSession, lines: DataFrame, delimiter: String,
                 columns: Seq[String], skipHeader: Int, skipFooter: Int,
                 ignoreLines: Set[String]): DataFrame = {
    // empty columns = derive them from the feed's own header line,
    // the reference's read_csv default (header inside the slice);
    // the body parse then starts one line later
    val (cols, skip) =
      if (columns.nonEmpty) (columns, skipHeader)
      else (headerColumns(spark, lines, delimiter, skipHeader, ignoreLines), skipHeader + 1)
    sliceLines(lines, delimiter, cols, skip, skipFooter, ignoreLines)
  }

  /** The `(_file, value)` line set of the text files `path` names: the
    * one place a raw feed is opened.
    *
    * Spark expands a glob into one root path per file and lists more
    * than `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * root paths in a Spark job of one task per file, which only
    * re-stats the files the driver has just globbed. So a `<dir
    * glob>/<name glob>` path is read as its matched directories with
    * `pathGlobFilter = <name glob>` — the same files, listed on the
    * driver — when one `listStatus` per directory shows they hold only
    * files, the glob matches at least one file and there are no more
    * directories than that threshold. Every other path (a plain file
    * or directory, a glob over directories that hold subdirectories,
    * where a directory read runs partition discovery and fails on a
    * `k=v` one, a glob matching nothing) is read as
    * `spark.read.text(path)`, with its results and its errors.
    */
  def textLines(spark: SparkSession, path: String): DataFrame = {
    val text = feedDirectories(spark, path) match {
      case Some((dirs, nameGlob)) => spark.read.option("pathGlobFilter", nameGlob).text(dirs: _*)
      case None                   => spark.read.text(path)
    }
    text.select(input_file_name().as("_file"), col("value"))
  }

  /** `path` as (directory glob, name glob) when its last component is
    * a glob. None for a plain last component, a trailing `/`, an
    * invalid glob, or a brace group holding a `/` (which only a
    * whole-path match reads the way Hadoop's glob does).
    */
  private[etl] def splitGlob(path: String): Option[(Path, String)] = {
    val depths = path.scanLeft(0)((d, c) => if (c == '{') d + 1 else if (c == '}') d - 1 else d)
    val slashInBraces = path.zip(depths.tail).exists { case (c, d) => c == '/' && d > 0 }
    if (path.endsWith("/") || depths.exists(_ < 0) || depths.last != 0 || slashInBraces) None
    else scala.util.Try {
      val p = new Path(path)
      Option(p.getParent).filter(_ => new GlobPattern(p.getName).hasWildcard).map((_, p.getName))
    }.toOption.flatten
  }

  /** The directories [[textLines]] reads `path` as, with its name glob;
    * None when it must read `path` itself.
    */
  private def feedDirectories(spark: SparkSession, path: String): Option[(Seq[String], String)] =
    splitGlob(path).flatMap { case (dirGlob, nameGlob) =>
      val fs = dirGlob.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dirs = Option(fs.globStatus(dirGlob)).getOrElse(Array.empty)
        .filter(_.isDirectory).map(_.getPath)
      val threshold =
        spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
      // Spark would read a directory name with glob characters as a glob
      if (dirs.isEmpty || dirs.length > threshold ||
          dirs.exists(_.toString.exists("{}[]*?\\".contains(_)))) None
      else {
        val children = dirs.flatMap(d => fs.listStatus(d))
        val names = new GlobPattern(nameGlob)
        val matched = children.exists(c => names.matches(c.getPath.getName))
        if (children.exists(_.isDirectory) || !matched) None
        else Some((dirs.map(_.toString).toSeq, nameGlob))
      }
    }

  /** `lines` without the rows of files whose path the glob `path` does
    * not match, component by component as Hadoop's glob does. A file
    * stream over `path`'s directory glob ([[LibraryRun.stream]]) also
    * sees files directly under, or nested below, those directories;
    * this keeps its batches to the files a glob source would see.
    */
  private[etl] def withinGlob(spark: SparkSession, lines: DataFrame, path: String): DataFrame = {
    val glob = new Path(path)
    val parts = glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(glob).toUri.getPath.split('/')
    lines.filter(udf(new GlobMatch(parts)).apply(col("_file")))
  }

  /** Whether a file URI's path matches the glob components `parts`.
    * A task reads a file's rows together, so the last answer is kept.
    */
  private final class GlobMatch(parts: Array[String])
      extends (String => Boolean) with Serializable {
    @transient private lazy val patterns = parts.map(new GlobPattern(_))
    @transient private var last: String = _
    @transient private var lastMatched = false
    def apply(file: String): Boolean = {
      if (file != last) {
        val names = new Path(new java.net.URI(file)).toUri.getPath.split('/')
        lastMatched = names.length == patterns.length &&
          patterns.zip(names).forall { case (g, n) => g.matches(n) }
        last = file
      }
      lastMatched
    }
  }

  /** Raw column names from the feed itself — the reference's
    * `pd.read_csv(stream, sep=delimiter)` semantics (Partrans.py:
    * 222-236): after the valid-lines slice and ignore-lines filter,
    * the FIRST remaining line is the header. Driver-side peek of one
    * file of `lines` (the lexicographically first of the files its
    * scan reads — in the Chill model all files of a feed share one
    * layout), so no Spark job runs. The file is read by the text
    * scan's own line reader ([[fileLines]]), so the header is the line
    * the scan returns: a UTF-8 byte order mark is stripped, CR and
    * CRLF end a line.
    */
  def headerColumns(spark: SparkSession, lines: DataFrame, delimiter: String,
                    skipHeader: Int, ignoreLines: Set[String]): Seq[String] = {
    val files = lines.inputFiles.map(f => new Path(new java.net.URI(f)))
    require(files.nonEmpty, "headerColumns: the feed has no files")
    val first = files.minBy(_.toString)
    val conf = spark.sessionState.newHadoopConf()
    val length = first.getFileSystem(conf).getFileStatus(first).getLen
    val header = fileLines(SparkPath.fromPath(first), length, conf) {
      _.map(_.toString).drop(skipHeader).filterNot(ignoreLines.contains).nextOption()
    }.getOrElse(throw new IllegalArgumentException(
      s"headerColumns: $first has no line left after the valid-lines slice"))
    header.split(java.util.regex.Pattern.quote(delimiter), -1).map(_.trim).toSeq
  }

  /** `read` over the lines of the whole file `file`, `length` bytes
    * long, as the text scan reads them: through Spark's own line
    * reader, with the same UTF-8 byte order mark handling, LF/CR/CRLF
    * line ends and compression codecs. A line is valid only until the
    * next one is read.
    */
  private def fileLines[T](file: SparkPath, length: Long, conf: Configuration)(
      read: Iterator[UTF8String] => T): T = {
    val reader = new HadoopFileLinesReader(
      PartitionedFile(InternalRow.empty, file, 0, length), conf)
    try read(reader.map(t => UTF8String.fromBytes(t.getBytes, 0, t.getLength)))
    finally reader.close()
  }

  /** The files of `lines`, `input_file_name()` value → length, when
    * every one of them is read whole by one task; None otherwise. That
    * holds when `lines` is a text-file scan under projections (and,
    * unless `exact`, filters) whose `_file` is `input_file_name()`, and
    * each file of the scan's listing is no longer than the split size
    * `FilePartition.maxSplitBytes` derives from that listing, or uses a
    * codec that cannot split. `exact` also asks that `value` be the
    * scan's own line, read with the default line separator, so that a
    * task reading a file itself sees the lines `lines` holds.
    *
    * The listing is the scan's cached one: no file-system call. A line
    * set the driver cannot see files in — a stream's micro-batch (a
    * `LogicalRDD`), a synthetic `_file` — gives None.
    */
  private def wholeFiles(lines: DataFrame, exact: Boolean): Option[Map[String, Long]] = {
    def inline(e: Expression, list: Seq[NamedExpression]): Expression = e.transformUp {
      case a: AttributeReference =>
        list.collectFirst { case al: Alias if al.exprId == a.exprId => al.child }.getOrElse(a)
    }
    @scala.annotation.tailrec
    def scan(p: LogicalPlan, file: Expression, value: Expression): Option[HadoopFsRelation] =
      p match {
        case Project(list, child)       => scan(child, inline(file, list), inline(value, list))
        case Filter(_, child) if !exact => scan(child, file, value)
        case l: LogicalRelation if !l.isStreaming && file.isInstanceOf[InputFileName] =>
          val ownLine = value match {
            case a: AttributeReference => l.output.exists(_.exprId == a.exprId)
            case _                     => false
          }
          l.relation match {
            case r: HadoopFsRelation if r.fileFormat.isInstanceOf[TextFileFormat] &&
                (!exact || ownLine && !r.options.keys.exists(k =>
                  Set("linesep", "wholetext").contains(k.toLowerCase))) => Some(r)
            case _ => None
          }
        case _ => None
      }
    val plan = lines.queryExecution.analyzed
    def out(name: String) = plan.output.find(_.name == name)
    for {
      file <- out("_file")
      value <- out("value")
      r <- scan(plan, file, value)
      dirs = r.location.listFiles(Nil, Nil)
      maxSplit = FilePartition.maxSplitBytes(r.sparkSession, dirs)
      files = dirs.flatMap(_.files).map(_.fileStatus)
      if files.forall(f => f.getLen <= maxSplit ||
        !r.fileFormat.isSplitable(r.sparkSession, r.options, f.getPath))
    } yield files.map(f => SparkPath.fromFileStatus(f).urlEncoded -> f.getLen).toMap
  }

  /** Whether every file of the line set `lines` is read whole by one
    * task, so [[slicedBody]] and [[withTagColumnsFrom]] parse it in the
    * scan's own tasks.
    */
  private[graft] def readsWholeFiles(lines: DataFrame): Boolean =
    wholeFiles(lines, exact = false).isDefined

  /** The line-slicing + delimiter-split core of [[rawCsv]], over any
    * `(_file, value)` line set — also the per-batch parser of the
    * streaming library run, where the lines arrive from a file stream
    * instead of a batch scan.
    *
    * Scale design: skip-header/footer needs per-file line numbers,
    * but only the boundary lines of each file matter — so the body is
    * NEVER exchanged. Which of two paths runs is decided on the driver
    * from the line set's own plan ([[slicedBody]]):
    *
    *  - One pass, when every file is read whole by one task: a text
    *    scan (under projections and filters) whose listed files are
    *    each no longer than the split size Spark derives from the
    *    listing, or compressed with a codec that cannot split — the
    *    Chill many-small-files feed. Each task numbers its files' rows
    *    as they stream by, drops the first `skipHeader` and holds the
    *    last `skipFooter` in a small buffer that the file's end drops:
    *    no aggregate, window, exchange or join, one scan.
    *  - Chunk statistics, for every other line set: a file large
    *    enough to split, a line set not backed by a plain scan (a
    *    synthetic `_file`, or a stream's micro-batch, whose files the
    *    driver cannot see). A second, tiny subtree aggregates one row
    *    per (split, file): line count and the min/max `monotonically_
    *    increasing_id` of the chunk. Per-file cumulative offsets over
    *    those chunks (a window over split-count rows, not feed rows)
    *    are broadcast back onto the scan, and a row's line number is
    *    `chunk_offset + (mid − chunk_min) + 1`. The feed is scanned
    *    twice (the stats scan reduces map-side to counters) but the
    *    body crosses no shuffle and a big file is sliced by its
    *    parallel splits instead of serializing through one task.
    *
    * The chunk arithmetic requires each (split, file) chunk to be a
    * contiguous run of rows, and chunk order by split id to be file
    * order. Both hold under Spark's file-partition packing: every
    * non-tail split of a multi-split file has size `maxSplitBytes` and
    * therefore fills its partition bin alone, so a partition mixing
    * files holds only whole small files and tails — each file at most
    * once; and splits are stably size-sorted then packed sequentially,
    * so ascending partition id is ascending file offset. A
    * `raise_error` guard on the tiny side still verifies contiguity at
    * run time rather than trusting the argument. The one-pass path
    * throws likewise, instead of slicing wrong, when a file's rows are
    * not contiguous in their partition or come from a split that does
    * not start at the file's first byte (the split size shrank between
    * building the frame and running it).
    *
    * The chunk path's two subtrees scan the same files, so input files
    * must be immutable while the query runs (the standard Spark
    * file-source contract; the Chill model writes a feed file
    * completely before the pipeline picks it up). A file growing
    * between the two scans would mis-place the footer cut without
    * tripping the contiguity guard.
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
    * parsers, over any `(_file, value)` line set: in one pass when
    * [[readsWholeFiles]], else by chunk statistics (see [[sliceLines]]).
    */
  def slicedBody(lines: DataFrame, skipHeader: Int, skipFooter: Int,
                 ignoreLines: Set[String]): DataFrame = {
    val body =
      if (skipHeader <= 0 && skipFooter <= 0) lines
      else if (readsWholeFiles(lines)) sliceWholeFiles(lines, skipHeader, skipFooter)
      else sliceChunks(lines, skipHeader, skipFooter)
    body.filter(!col("value").isin(ignoreLines.toSeq: _*))
  }

  /** The one-pass valid-lines slice of a line set whose files are each
    * read whole by one task. The guards throw rather than slice wrong.
    */
  private def sliceWholeFiles(lines: DataFrame, skipHeader: Int, skipFooter: Int): DataFrame = {
    val body = lines.select(col("_file"), col("value"))
    body.withColumn("_start", input_file_block_start())
      .mapPartitions { rows =>
        val seen = scala.collection.mutable.HashSet.empty[String]
        val held = new java.util.ArrayDeque[Row]()
        var file: String = null
        var n = 0L
        rows.flatMap { r =>
          if (r.getLong(2) != 0L) throw new IllegalStateException(
            s"sliceLines: ${r.getString(0)} is read in splits, but the slice was planned " +
              "over whole files")
          if (r.getString(0) != file) {
            file = r.getString(0)
            if (!seen.add(file)) throw new IllegalStateException(
              s"sliceLines: the rows of $file are not contiguous in their partition")
            n = 0
            held.clear() // the last file's footer
          }
          n += 1
          if (n <= skipHeader) None
          else {
            held.addLast(Row(file, r.getString(1)))
            if (held.size > skipFooter) Some(held.pollFirst()) else None
          }
        }
      }(Encoders.row(body.schema))
  }

  /** The valid-lines slice by per-(split, file) chunk statistics. */
  private def sliceChunks(lines: DataFrame, skipHeader: Int, skipFooter: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
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
    sliceFixedWidth(textLines(spark, path),
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
    sliceCsvQuoted(textLines(spark, path),
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
    sliceJsonLines(textLines(spark, path),
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
    * Partrans.py:113-122) into `_tag_<rule name>`; see
    * [[withTagColumnsFrom]]. The feed never shuffles.
    */
  def withTagColumns(spark: SparkSession, path: String, df: DataFrame,
                     tagRules: Seq[FromTag]): DataFrame =
    withTagColumnsFrom(textLines(spark, path), df, tagRules)

  /** [[withTagColumns]] over an existing `(_file, value)` line set: each
    * row of `df` gets, per rule, the first line of its `_file` in `lines`
    * that contains the rule's tag, or null (no such line, or a `_file`
    * not among `lines`' files).
    *
    * When `lines` is exactly the lines of a text scan whose files are
    * each read whole by one task (see [[sliceLines]]), the tag lines
    * are found inside `df`'s own tasks: per rule, a task reads a file
    * itself from its start through the scan's own line reader, with the
    * session's Hadoop configuration, stops at the first line holding
    * the tag and keeps that answer while the file's rows stream by (a
    * file without the tag line is read to its end, as the scan reads
    * it). Every other line set (a split file, a filtered or synthetic
    * line set, a stream's micro-batch) groups its tag-filtered lines per
    * file and joins that tiny table back by broadcast.
    */
  def withTagColumnsFrom(lines: DataFrame, df: DataFrame,
                         tagRules: Seq[FromTag]): DataFrame = {
    if (tagRules.isEmpty) return df
    wholeFiles(lines, exact = true) match {
      case Some(files) =>
        val conf = lines.sparkSession.sparkContext.broadcast(
          new SerializableConfiguration(lines.sparkSession.sessionState.newHadoopConf()))
        tagRules.foldLeft(df) { (acc, rule) =>
          acc.withColumn(s"_tag_${rule.name}",
            udf(new FirstTagLine(rule.tag, files, conf)).apply(col("_file")))
        }
      case None =>
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

  /** The first line of a file of `files` (`input_file_name()` value →
    * length) that contains `tag`, byte for byte as Spark's `contains`
    * matches it; null for any other file. A task reads a file's rows
    * together, so the last answer is kept.
    */
  private final class FirstTagLine(tag: String, files: Map[String, Long],
                                   conf: Broadcast[SerializableConfiguration])
      extends (String => String) with Serializable {
    @transient private lazy val needle = UTF8String.fromString(tag)
    @transient private var last: String = _
    @transient private var lastLine: String = _
    def apply(file: String): String = {
      if (file != last) {
        lastLine = files.get(file).flatMap { length =>
          fileLines(SparkPath.fromUrlString(file), length, conf.value.value) {
            _.find(_.contains(needle)).map(_.toString)
          }
        }.orNull
        last = file
      }
      lastLine
    }
  }
}
