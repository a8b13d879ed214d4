package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl._

/** Config-file ingestion: the checked-in JSON rendition of a Chill +
  * HLD workbook drives the entire library cycle — all five field
  * source kinds, view-backed lookup with default, OM_GROUP routing,
  * line slicing — and reconciles clean.
  */
class ConfigFileSpec extends AnyFunSuite {
  import SparkTestSession._

  private def writeRaw(dir: java.nio.file.Path, name: String, region: String,
                       rows: Seq[(Int, String, Int)]): Unit =
    java.nio.file.Files.writeString(dir.resolve(name),
      s"#REGION=$region\nid|grp|cnt\n" +
        rows.map { case (i, g, c) => s"$i|$g|$c" }.mkString("\n") +
        "\nJUNK\nTRAILER")

  test("config-file driven library run: compile, load, reconcile clean") {
    val rawDir = java.nio.file.Files.createTempDirectory("cfg_raw")
    val wh = java.nio.file.Files.createTempDirectory("cfg_wh").toString
    writeRaw(rawDir, "F_20240101.csv", "EAST", Seq((1, "A", 10), (2, "B", 20), (3, "A", 30)))
    writeRaw(rawDir, "F_20240102.csv", "WEST", Seq((4, "A", 40), (5, "B", 50)))
    import spark.implicits._
    Seq(("A", "Alpha")).toDF("g_code", "g_name").createOrReplaceTempView("grp_dim")

    val cfg = ConfigFile.load(spark, "src/test/resources/chill_config.json")
    assert(cfg.fields.map(_.source).toSet == Set("constant", "filename", "tag", "column", "lookup"))
    val compiled = ConfigFile.compile(spark,
      cfg.copy(input_path = rawDir.toString + "/*.csv"), wh)
    assert(compiled.schemaName == "PM_SCHEMA")
    assert(compiled.retentionDays == Map("5M" -> 30, "DY" -> 3650))

    val result = LibraryRun.run(spark, compiled.lib, keyCols = Seq("day", "idn"))
    assert(result.tables.keySet == Set("TBL_A_5M", "TBL_B_5M"))
    val a = result.tables("TBL_A_5M").collect()
    val b = result.tables("TBL_B_5M").collect()
    assert(a.length == 3 && b.length == 2)
    // lookup hit vs default-on-miss
    assert(a.forall(_.getAs[String]("grp_name") == "Alpha"))
    assert(b.forall(_.getAs[String]("grp_name") == "UNKNOWN"))
    // tag + filename fields, multi-arg column function
    val r4 = a.find(_.getAs[Long]("idn") == 4L).get
    assert(r4.getAs[String]("region") == "WEST")
    // the partition column reads back with the type the route wrote
    // (string), not the integer partition inference would give
    assert(r4.getAs[String]("day") == "20240102")
    assert(r4.getAs[Long]("cnt10") == 404L)
    // KPI formula column (post-route rule from the config)
    assert(r4.getAs[Double]("cnt_per_id") == 101.0)
    // clean reconcile
    assert(result.report.filter(col("status") === "failed").count() == 0,
      result.junitXml)
  }

  test("config-driven streaming ingestion loads arriving files continuously") {
    val rawDir = java.nio.file.Files.createTempDirectory("cfg_stream_raw")
    val wh = java.nio.file.Files.createTempDirectory("cfg_stream_wh").toString
    import spark.implicits._
    Seq(("A", "Alpha")).toDF("g_code", "g_name").createOrReplaceTempView("grp_dim")
    val compiled = ConfigFile.compile(spark,
      ConfigFile.load(spark, "src/test/resources/chill_config.json")
        .copy(input_path = rawDir.toString + "/*.csv"), wh)
    writeRaw(rawDir, "F_20240101.csv", "EAST", Seq((1, "A", 10), (2, "B", 20)))
    val q = LibraryRun.stream(spark, compiled.lib).start()
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(s"$wh/TBL_A_5M").count() == 1)
      // a new file arrives: next batch loads its partition alongside
      writeRaw(rawDir, "F_20240102.csv", "WEST", Seq((3, "A", 30), (4, "A", 40)))
      q.processAllAvailable()
      val a = spark.read.parquet(s"$wh/TBL_A_5M")
      assert(a.count() == 3)
      assert(a.select("day").distinct().count() == 2)
      assert(a.filter(col("region") === "WEST").count() == 2)
    } finally q.stop()
  }

  test("config compile rejects unknown sources and undefined views") {
    val base = ConfigFile.FieldSpec("f", "constant", Some("x"), None, None,
      None, None, None, None, None, None, None)
    val bad = intercept[IllegalArgumentException] {
      ConfigFile.compileField(base.copy(source = "teleport"), Map.empty)
    }
    assert(bad.getMessage.contains("unknown source"))
    val noView = intercept[IllegalArgumentException] {
      ConfigFile.compileField(
        base.copy(source = "lookup", view = Some("ghost_vw"),
          inputs = Some("k"), view_keys = Some("k"), value_col = Some("v")),
        Map.empty)
    }
    assert(noView.getMessage.contains("ghost_vw"))
    val missing = intercept[IllegalArgumentException] {
      ConfigFile.compileField(base.copy(source = "filename", pattern = None), Map.empty)
    }
    assert(missing.getMessage.contains("pattern"))
  }

  test("retention sweep thins only suffix-matched tables") {
    import spark.implicits._
    val asOf = java.time.Instant.parse("2024-02-01T00:00:00Z")
    def tbl(daysAgo: Int*) = daysAgo.toSeq.map { d =>
      (java.sql.Timestamp.from(asOf.minus(java.time.Duration.ofDays(d.toLong))), d)
    }.toDF("datetime", "v")
    val tables = Map(
      "X_5M" -> tbl(1, 29, 31, 60),   // 30d rule → keeps 1, 29
      "X_HR" -> tbl(1, 89, 91),       // 90d rule → keeps 1, 89
      "X_ZZ" -> tbl(1, 5000))         // no rule → untouched
    val swept = graft.operators.Maintenance.retentionSweep(
      tables, "datetime", graft.operators.Maintenance.defaultRetentionDays, asOf)
    assert(swept("X_5M").count() == 2)
    assert(swept("X_HR").count() == 2)
    assert(swept("X_ZZ").count() == 2)
  }

  test("dbl error-file parsing: per-table errors, record errors, stats") {
    val dir = java.nio.file.Files.createTempDirectory("dbl_logs")
    java.nio.file.Files.writeString(dir.resolve("load_1_a.log"),
      """Table PM_SCHEMA.ERICSSON_NODE_5M, loaded from every logical record.
        |ORA-01400: cannot insert NULL into ("PM"."C1")
        |Record 17: Rejected - Error on table, column C1.
        |ORA-01400: cannot insert NULL into ("PM"."C1")
        |1000 Rows successfully loaded.
        |2 Rows not loaded due to data errors.
        |Table PM_SCHEMA.HUAWEI_CELL_HH, loaded from every logical record.
        |ORA-01722: invalid number
        |500 Rows successfully loaded.""".stripMargin)
    val parsed = graft.operators.Maintenance.parseDblErrors(spark, dir.toString + "/*.log")
    // renders into the junit report like TestReport.create_db_errors
    val xml = graft.operators.Report.toJunitXml(
      graft.operators.Report.dblErrorsSuite(parsed))
    assert(xml.contains("dbl_errors") && xml.contains("failures=\"3\""))
    val byTable = parsed.collect().groupBy(_.getAs[String]("table_name"))
    assert(byTable.keySet == Set("ERICSSON_NODE", "HUAWEI_CELL"))
    val eric = byTable("ERICSSON_NODE").map(r => (r.getAs[String]("kind"), r.getAs[String]("detail")))
    // duplicate ORA line deduped (the reference collects errors as a set)
    assert(eric.count(_._1 == "oracle_error") == 1)
    assert(eric.exists { case (k, d) => k == "record_error" && d.startsWith("Rejected") })
    assert(eric.count(_._1 == "stats") == 2)
    assert(byTable("HUAWEI_CELL").count(_.getAs[String]("kind") == "stats") == 1)
  }
}
