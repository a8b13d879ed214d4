package graft.etl

import org.apache.hadoop.fs.GlobPattern
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{Maintenance, Report}

/** The reference's whole library test cycle (chill.py:45-227) as one
  * Spark flow: parse raw data → field rules → route to tables →
  * idempotent partition-overwrite load → read back → reconcile
  * against the in-memory transform → junit report.
  *
  * What the reference does with an Oracle DB, daemon processes, and
  * sleep/poll loops is here a deterministic DAG: the "DB" is a
  * partitioned parquet warehouse, the "DBLoader" is dynamic partition
  * overwrite, and the comparison is one keyed aggregate per table.
  */
final case class LibraryConfig(
    /** The raw feed. A `<dir glob>/<name glob>` path (a name glob such
      * as `*.csv` under one directory, or under every directory a glob
      * such as `raw/d*` matches) whose matched directories hold only
      * files, at most `spark.sql.sources.parallelPartitionDiscovery.
      * threshold` of them, is read as those directories filtered by
      * the name glob and listed on the driver. Any other path (a plain
      * file or directory, a glob over directories with subdirectories,
      * a glob matching nothing) is read as given. Both forms read the
      * same files, never a hidden (`_`/`.`-prefixed) one. See
      * [[ChillPipeline.textLines]] and, for the stream,
      * [[LibraryRun.stream]].
      */
    rawPath: String,
    delimiter: String,
    rawColumns: Seq[String],
    skipHeader: Int,
    skipFooter: Int,
    ignoreLines: Set[String],
    rules: Seq[FieldRule],
    tagRules: Seq[FromTag],
    routes: Seq[TableRoute],
    /** partition (datetime) column, present in every route's columns */
    partitionCol: String,
    warehouseDir: String)

final case class LibraryResult(
    tables: Map[String, DataFrame],
    report: DataFrame,
    junitXml: String)

object LibraryRun {

  /** Execute the full cycle. `keyCols` are the reconciliation keys
    * (the reference's CONF_KEY_FIELDS + DATETIME).
    *
    * The raw files are listed once: one `(_file, value)` line set
    * feeds both the line slice and the tag columns. When its files are
    * each read whole by one task (the Chill feed of many small files),
    * both run inside the tasks that build the transformed cache — no
    * chunk-statistics or tag-line side job runs before a route's write,
    * whose jobs are then the lookups' broadcasts, the cache build, the
    * rebalance and the write itself (see [[ChillPipeline.sliceLines]]).
    * Each routed table is compared by ONE [[Report.compareData]] call — a single keyed
    * aggregate of expected vs loaded rows, persisted alongside the
    * transformed feed, from which every count, missing-key and
    * summary case and the value diffs of keys with one row per side
    * derive (duplicated keys alone go through a row-level join), plus
    * one flag aggregate for all its referential legs. Its two eager
    * actions also give each suite's totals, and the junit XML renders
    * from the totals of all tables ([[Report.renderJunitXml]]): the
    * merged report is read again only to collect its capped failures,
    * and only when some suite failed, so a clean cycle renders its XML
    * without a Spark job. `LibraryResult.report` is the full report
    * table. Jobs carry the description `LibraryRun parse`,
    * `LibraryRun load <table>`, `LibraryRun readback` or `LibraryRun
    * report`; the caller's description is restored on return.
    */
  def run(spark: SparkSession, cfg: LibraryConfig, keyCols: Seq[String]): LibraryResult = {
    val sc = spark.sparkContext
    // the property sc.setJobDescription sets (SparkContext's key is private)
    val callerDescription = sc.getLocalProperty("spark.job.description")
    def phase(name: String): Unit = sc.setJobDescription(s"LibraryRun $name")
    try {
      // 1. parse + transform (Partrans.parse_data), ONCE: the reference
      // parses each file once and accumulates per-table frames
      // (Partrans.py:356-364). Spark-first that is a persisted
      // transformed feed — every route's write (its own action) and
      // every reconcile suite fans out from the cache instead of
      // re-parsing the raw text. MEMORY_AND_DISK: a huge batch spills
      // to local disk rather than evicting (a re-parse costs far more
      // than a disk read of the parsed columns).
      phase("parse")
      val lines = ChillPipeline.textLines(spark, cfg.rawPath)
      val raw = ChillPipeline.rawCsvFrom(spark, lines, cfg.delimiter,
        cfg.rawColumns, cfg.skipHeader, cfg.skipFooter, cfg.ignoreLines)
      val tagged = ChillPipeline.withTagColumnsFrom(lines, raw, cfg.tagRules)
      val transformed = FieldRule.applyAll(tagged, cfg.rules)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val keyedFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      try {
        val routed = ChillPipeline.route(transformed, cfg.routes)

        // 2. load: per-table dynamic partition overwrite (delete+reload)
        routed.foreach { case (table, df) =>
          phase(s"load $table")
          Maintenance.overwritePartitions(df, s"${cfg.warehouseDir}/$table", cfg.partitionCol)
        }

        // 3. read back what the warehouse now holds
        phase("readback")
        val loaded = routed.map { case (table, df) =>
          table -> readBack(spark, s"${cfg.warehouseDir}/$table", df.schema, cfg.partitionCol)
        }

        // 4. reconcile per table — the reference's FULL compare_data
        // check set (HlxTools.py:785-936): record counts, missing keys
        // both directions, per-counter value diffs (numeric-else-string,
        // rounded to 3), fact→dimension referential integrity vs the
        // config's lookup views, and the missing-column schema compare.
        // Counter columns come from the route spec (the HLD column list
        // minus keys — TYPE=KPI post-rule columns are excluded the way
        // the reference filters TYPE!='KPI').
        phase("report")
        val lookups = cfg.rules.collect { case l: Lookup => (l.name, l.view, l.keys) }
        val compared = routed.keys.toSeq.sorted.map { table =>
          val spec = cfg.routes.find(_.table == table).get
          val counters = spec.columns
            .filterNot(c => keyCols.contains(c) || c == cfg.partitionCol)
          val c = Report.compareData(table, routed(table), loaded(table), keyCols,
            counters, spec.columns ++ spec.postRules.map(_.name), lookups)
          keyedFrames += c.keyed
          c
        }
        val report = Report.merge(compared.map(_.report): _*)
        // a failing report collects its failures slice here, from the
        // caches, before the unpersists below; the returned DataFrames
        // (parquet-backed, local or recomputable) stay valid after them
        LibraryResult(loaded, report, Report.renderJunitXml(compared.flatMap(_.totals), report))
      } finally {
        keyedFrames.foreach(_.unpersist())
        transformed.unpersist()
      }
    } finally sc.setJobDescription(callerDescription)
  }

  /** A loaded table as the warehouse now holds it: the data columns as
    * inferred from its files (so the missing-column suite sees the
    * warehouse's real columns), the partition column with the type
    * of the `written` frame. Partition-type inference alone would
    * read a `day=05` directory back as the integer 5, and every key
    * built from it would miss both ways. The data columns are inferred
    * from ONE partition directory (a parquet read infers them from one
    * file either way), so only the typed read lists the whole table —
    * a parallel listing job once it holds more partition directories
    * than `parallelPartitionDiscovery.threshold`. A table with no
    * partition directory (a route that matched no rows) has no file to
    * infer from: it reads back empty with the `written` columns, the
    * partition column last as in a non-empty read.
    */
  private def readBack(spark: SparkSession, path: String, written: StructType,
                       partitionCol: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onePartition = fs.listStatus(root).map(_.getPath)
      .find(_.getName.startsWith(s"$partitionCol="))
    val schema = onePartition match {
      case Some(p) =>
        StructType(spark.read.option("basePath", path).parquet(p.toString).schema.map { f =>
          if (f.name == partitionCol) f.copy(dataType = written(partitionCol).dataType) else f
        })
      case None => // nullable, as a parquet read returns every column
        StructType((written.filterNot(_.name == partitionCol) :+ written(partitionCol))
          .map(_.copy(nullable = true)))
    }
    spark.read.schema(schema).parquet(path)
  }

  /** Cycle from a compiled config, finishing the way the reference's
    * harness does (chill.py:70-71): the junit report lands next to
    * the warehouse as `{LIBRARY_NAME}_test_report.xml`, with the
    * library name taken from the workbook/JSON metadata.
    */
  def runCompiled(spark: SparkSession, compiled: ConfigFile.Compiled,
                  keyCols: Seq[String]): LibraryResult = {
    val result = run(spark, compiled.lib, keyCols)
    // Hadoop FS, not java.nio: the warehouse may be hdfs://or s3a://
    // like every other write in the cycle, and create() makes parents
    val path = new org.apache.hadoop.fs.Path(compiled.lib.warehouseDir, compiled.reportFileName)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try out.write(result.junitXml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    result
  }

  /** Continuous form of the cycle — the reference's connect-daemon
    * polling loop (chill.py wait_rd/copy_rd + DBLoader) as a file
    * stream: each micro-batch of newly-arrived raw files parses with
    * the SAME config rules and partition-overwrites the routed
    * tables. Matches the reference's delete-by-datetime-then-reload
    * unit of work: a batch replaces exactly the datetime partitions
    * it carries, so replaying a file set is idempotent as long as
    * files carry whole partitions (the Chill model: one file = one
    * datetime slice).
    *
    * A `<dir glob>/<name glob>` raw path is streamed as `<dir glob>`
    * with `pathGlobFilter = <name glob>` and `recursiveFileLookup`, so
    * neither defining the stream nor a trigger expands the glob into
    * one root path per file (a Spark listing job of one task per file
    * past `parallelPartitionDiscovery.threshold` files). Each batch
    * then drops the files the glob itself does not match — one put
    * directly under, or nested below, a matched directory — so the
    * stream loads what a glob source would, and its checkpoint records
    * the loaded files under the same paths. Any other raw path, or a
    * plain root directory that does not exist yet, streams through
    * the glob source itself.
    *
    * A micro-batch is sliced by chunk statistics and tagged by a
    * broadcast join ([[ChillPipeline.sliceLines]]), not in one pass:
    * `foreachBatch` hands over a `LogicalRDD`, whose files the driver
    * cannot see, so it cannot know each is read whole by one task.
    */
  def stream(spark: SparkSession, cfg: LibraryConfig)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val feed = ChillPipeline.splitGlob(cfg.rawPath).filter { case (dirGlob, _) =>
      // a missing plain root is left to the glob source, which waits for it
      new GlobPattern(dirGlob.toString).hasWildcard ||
        dirGlob.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dirGlob)
    }
    val text = feed.fold(spark.readStream.text(cfg.rawPath)) { case (dirGlob, nameGlob) =>
      spark.readStream.option("pathGlobFilter", nameGlob)
        .option("recursiveFileLookup", "true").text(dirGlob.toString)
    }
    val delivered = text.select(input_file_name().as("_file"), col("value"))
    val lines =
      if (feed.isEmpty) delivered else ChillPipeline.withinGlob(spark, delivered, cfg.rawPath)
    lines.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val raw = ChillPipeline.sliceLines(batch, cfg.delimiter, cfg.rawColumns,
        cfg.skipHeader, cfg.skipFooter, cfg.ignoreLines)
      val tagged = ChillPipeline.withTagColumnsFrom(batch, raw, cfg.tagRules)
      // parse the batch once; each route's partition-overwrite action
      // reads the cached parse, not the batch's source files again
      val transformed = FieldRule.applyAll(tagged, cfg.rules)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try ChillPipeline.route(transformed, cfg.routes).foreach { case (table, df) =>
        Maintenance.overwritePartitions(df, s"${cfg.warehouseDir}/$table", cfg.partitionCol)
      } finally transformed.unpersist()
    }
  }
}
