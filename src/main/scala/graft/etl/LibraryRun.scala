package graft.etl

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
    * feeds both the line slice and the tag columns. Each routed table
    * is compared by ONE [[Report.compareData]] call — a single keyed
    * aggregate of expected vs loaded rows, persisted alongside the
    * transformed feed, from which every count, missing-key and
    * summary case and the value diffs of keys with one row per side
    * derive (duplicated keys alone go through a row-level join), plus
    * one flag aggregate for all its referential legs — and the merged
    * report renders with the single collect of [[Report.toJunitXml]]. Jobs carry the description
    * `LibraryRun parse`, `LibraryRun load <table>`, `LibraryRun
    * readback` or `LibraryRun report`; the caller's description is
    * restored on return.
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
      val raw = ChillPipeline.rawCsvFrom(spark, cfg.rawPath, lines, cfg.delimiter,
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
        val report = Report.merge(routed.keys.toSeq.sorted.map { table =>
          val spec = cfg.routes.find(_.table == table).get
          val counters = spec.columns
            .filterNot(c => keyCols.contains(c) || c == cfg.partitionCol)
          val compared = Report.compareData(table, routed(table), loaded(table), keyCols,
            counters, spec.columns ++ spec.postRules.map(_.name), lookups)
          keyedFrames += compared.keyed
          compared.report
        }: _*)
        // toJunitXml collects, so the report materializes from the
        // caches before the unpersists below; the returned DataFrames
        // (parquet-backed or recomputable) stay valid after them
        LibraryResult(loaded, report, Report.toJunitXml(report))
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
    * than `parallelPartitionDiscovery.threshold`.
    */
  private def readBack(spark: SparkSession, path: String, written: StructType,
                       partitionCol: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onePartition = fs.listStatus(root).map(_.getPath)
      .find(_.getName.startsWith(s"$partitionCol=")).fold(path)(_.toString)
    val inferred = spark.read.option("basePath", path).parquet(onePartition).schema
    spark.read.schema(StructType(inferred.map { f =>
      if (f.name == partitionCol) f.copy(dataType = written(partitionCol).dataType) else f
    })).parquet(path)
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
    */
  def stream(spark: SparkSession, cfg: LibraryConfig)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val lines = spark.readStream.text(cfg.rawPath)
      .select(input_file_name().as("_file"), col("value"))
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
