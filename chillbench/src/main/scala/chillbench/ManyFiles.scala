package chillbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl._
import graft.operators.{Maintenance, Reconcile, Report}

/** `LibraryRun.run` over many small A1 files, one per (node, day):
  * header, `#REGION` tag line, an ignore-line and a footer around each
  * body. Two lookups (event type and node dimensions) give the
  * referential suites. Untraced operations call `LibraryRun.run` as
  * one; traced ones call the same public functions in the same order
  * inside spans, and must render byte-identical junit XML.
  */
final class ManyFiles(ctx: Ctx) extends Workload {
  import ctx.spark
  val Nodes = 12
  val Days = 8
  val Rows = 9600L

  private val raw = s"${ctx.work}/raw"
  val warehouse = s"${ctx.work}/wh"
  private var cfg: LibraryConfig = _
  private val keyCols = Seq("file_day", "event_n")
  private var files = 0L
  private var rawBytes = 0L
  private var rawDigest = ""
  private var expected: Seq[String] = Nil
  private var untracedXml: String = _
  private var lastXml: String = _

  def setup(): Unit = {
    expected = Workload.sortedRows(render())
    rawBytes = Workload.dataFiles(raw)._2
    rawDigest = Workload.digest(raw)
  }

  def inputBytes: Long = rawBytes

  def op(i: Int): OpOut = {
    val xml =
      if (ctx.spans.tracer.isDefined && i > 0) decomposed()
      else LibraryRun.run(spark, cfg, keyCols).junitXml
    if (i == 0) untracedXml = xml
    lastXml = xml
    OpOut(Rows, Nil)
  }

  def check(): Unit = {
    val failures = """failures="(\d+)"""".r.findAllMatchIn(lastXml).map(_.group(1).toLong).sum
    val suites = "<testsuite ".r.findAllMatchIn(lastXml).size
    require(suites > 0 && failures == 0,
      s"junit report: $failures failed cases in $suites suites")
    require(lastXml == untracedXml,
      "traced decomposition rendered other junit XML than LibraryRun.run")
    Workload.requireSame("warehouse aggregate",
      Workload.sortedRows(warehouseAggregate()), expected)
  }

  /** Drop one partition directory of the first routed table. */
  def corrupt(): Unit = {
    val table = new java.io.File(s"$warehouse/${cfg.routes.head.table}")
    val part = table.listFiles().filter(_.getName.contains("=")).minBy(_.getName)
    org.apache.commons.io.FileUtils.deleteDirectory(part)
  }

  def describe: Map[String, Any] = Map("files" -> files, "rows" -> Rows,
    "raw_bytes" -> rawBytes, "input_digest" -> rawDigest, "tables" -> cfg.routes.size,
    "lookups" -> cfg.rules.count(_.isInstanceOf[Lookup]))

  /** `LibraryRun.run`, step by step, with a span per layer. */
  private def decomposed(): String = {
    val span = ctx.spans
    val (transformed, routed) = span("parse") {
      val raw = ChillPipeline.rawCsv(spark, cfg.rawPath, cfg.delimiter, cfg.rawColumns,
        cfg.skipHeader, cfg.skipFooter, cfg.ignoreLines)
      val tagged = ChillPipeline.withTagColumns(spark, cfg.rawPath, raw, cfg.tagRules)
      val transformed = FieldRule.applyAll(tagged, cfg.rules)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (transformed, ChillPipeline.route(transformed, cfg.routes))
    }
    try {
      span("load") {
        routed.foreach { case (table, df) =>
          Maintenance.overwritePartitions(df, s"${cfg.warehouseDir}/$table", cfg.partitionCol)
        }
      }
      val loaded = span("readback") {
        routed.keys.map(t => t -> spark.read.parquet(s"${cfg.warehouseDir}/$t")).toMap
      }
      val report = span("reconcile") {
        val lookups = cfg.rules.collect { case l: Lookup => l }
        val suites = routed.keys.toSeq.sorted.flatMap { table =>
          val spec = cfg.routes.find(_.table == table).get
          val counters = spec.columns
            .filterNot(c => keyCols.contains(c) || c == cfg.partitionCol)
          val expected = routed(table).withColumn("_key", concat_ws("", keyCols.map(col): _*))
          val actual = loaded(table).withColumn("_key", concat_ws("", keyCols.map(col): _*))
          val missing = Reconcile.missingKeys(expected, actual, "_key")
          val diffs =
            if (counters.isEmpty) None
            else Some(Reconcile.counterDiffs(expected, actual, "_key", counters))
          val (missingInData, extraInData) = Reconcile.missingColumns(
            spec.columns ++ spec.postRules.map(_.name), loaded(table))
          val refSuites = lookups
            .filter(_.keys.forall { case (f, _) => loaded(table).columns.contains(f) })
            .map { l =>
              val factKey = l.keys.map(_._1)
              val dimKey = l.keys.map(_._2)
              val (fact, fk) =
                if (factKey.sizeIs == 1) (loaded(table), factKey.head)
                else (loaded(table).withColumn("_fk", concat_ws("", factKey.map(col): _*)), "_fk")
              val (dim, dk) =
                if (dimKey.sizeIs == 1) (l.view, dimKey.head)
                else (l.view.select(concat_ws("", dimKey.map(col): _*).as("_dk")), "_dk")
              Report.referentialSuite(
                Reconcile.referentialSummary(fact, dim, fk, dk), table, l.name)
            }
          Seq(
            Report.countSuite(Reconcile.countCompare(expected, actual, "_key"), "_key"),
            Report.missingSuite(missing, "_key"),
            Report.summaryRow("missing_records", table, missing),
            Report.missingColumnsSuite(spark, table, missingInData, extraInData)) ++
            diffs.toSeq.flatMap(d => Seq(
              Report.counterDiffSuite(d, "_key"),
              Report.summaryRow("value_diffs", table, d))) ++
            refSuites
        }
        Report.merge(suites: _*)
      }
      span("report")(Report.toJunitXml(report))
    } finally transformed.unpersist()
  }

  /** Render the delivery under `raw`, set `cfg` and `files`, and
    * return the source-side aggregate.
    */
  private def render(): DataFrame = {
    val in = new Inputs(spark, ctx.seed)
    val feed = in.events(Rows, Days).select(
      in.draw(col("event_id"), 90, Nodes).cast("int").as("node"),
      date_format(col("ts"), "yyyyMMdd").as("fday"),
      col("event_id"), col("event_type"),
      floor(col("value") * 100.0 + 0.5).cast("long").as("cents")).cache()
    files = RawFiles.write(spark, feed.groupBy(col("node"), col("fday"))
      .agg(RawFiles.body(concat_ws("|", col("event_id"), col("event_type"), col("cents")),
        col("event_id")).as("body"))
      .select(
        concat(lit(s"$raw/NODE"), col("node"), lit("_"), col("fday"), lit(".csv")).as("path"),
        concat(lit("HDR|gen|1\n#REGION=R"), (col("node") * 10).cast("string"),
          lit("\nIGNORE|ME|0\n"), col("body"), lit("\nEOF|x|0")).as("content")))
    import spark.implicits._
    val typeDim = in.EventTypes.zipWithIndex.toDF("t_name", "t_code")
    val nodeDim = (0 until Nodes).map(n => (n.toString, s"SITE${n % 3}")).toDF("n_node", "n_site")
    val tagRule = FromTag("region", "#REGION", c => regexp_extract(c, "#REGION=(R\\d+)", 1))
    cfg = LibraryConfig(
      rawPath = s"$raw/*.csv",
      delimiter = "|",
      rawColumns = Seq("event_id", "event_type", "cents"),
      skipHeader = 2, skipFooter = 1, ignoreLines = Set("IGNORE|ME|0"),
      rules = Seq(
        FromFilename("node_id", "NODE(\\d+)_", 1),
        FromFilename("file_day", "_(\\d{8})\\.csv", 1), tagRule,
        Derived("event_n", col("event_id").cast("long")),
        Derived("cents_n", col("cents").cast("long")),
        Lookup("type_code", typeDim, Seq("event_type" -> "t_name"), "t_code", lit(-1)),
        Lookup("site", nodeDim, Seq("node_id" -> "n_node"), "n_site", lit("UNKNOWN"))),
      tagRules = Seq(tagRule),
      routes = Seq(TableRoute("events_t", col("cents_n").isNotNull,
        Seq("file_day", "event_n", "node_id", "region", "event_type", "cents_n",
          "type_code", "site"))),
      partitionCol = "file_day",
      warehouseDir = warehouse)
    feed.groupBy(col("node"), col("fday"), concat(lit("R"), (col("node") * 10).cast("string")))
      .agg(count(lit(1)), sum(col("cents")), sum(col("event_id")))
  }

  /** The same aggregate over the loaded warehouse. */
  private def warehouseAggregate(): DataFrame =
    spark.read.parquet(s"$warehouse/events_t")
      .groupBy(col("node_id").cast("int"), col("file_day").cast("string"), col("region"))
      .agg(count(lit(1)), sum(col("cents_n")), sum(col("event_n")))
}
