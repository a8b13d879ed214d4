package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl._
import graft.operators.Maintenance

/** The full reference cycle end-to-end: raw files → transform →
  * partition-overwrite load → readback → reconcile → junit, plus
  * idempotency of the reload.
  */
class LibraryRunSpec extends AnyFunSuite {
  import SparkTestSession._

  private def writeRaw(dir: java.nio.file.Path, name: String, day: String, ids: Range): Unit =
    java.nio.file.Files.writeString(dir.resolve(name),
      "id|cnt\n" + ids.map(i => s"$i|${i * 10}").mkString("\n"))

  test("library run: load, reconcile clean, junit reports zero failures") {
    val rawDir = java.nio.file.Files.createTempDirectory("lib_raw")
    val wh = java.nio.file.Files.createTempDirectory("lib_wh").toString
    writeRaw(rawDir, "F_20240101.csv", "2024-01-01", 1 to 20)
    writeRaw(rawDir, "F_20240102.csv", "2024-01-02", 21 to 40)

    import spark.implicits._
    val dim = (1 to 45).map(i => (i.toString, s"name$i")).toDF("k", "nm")
    val cfg = LibraryConfig(
      rawPath = rawDir.toString + "/*.csv",
      delimiter = "|",
      rawColumns = Seq("id", "cnt"),
      skipHeader = 1, skipFooter = 0, ignoreLines = Set(),
      rules = Seq(
        FromFilename("day", "F_(\\d{8})\\.csv", 1),
        Derived("idn", col("id").cast("long")),
        Derived("cntn", col("cnt").cast("long")),
        Constant("lib", lit("PM_LIB")),
        Lookup("id_name", dim, Seq(("id", "k")), "nm", lit("?"))),
      tagRules = Seq(),
      routes = Seq(
        TableRoute("counters", col("idn") > 0,
          Seq("day", "id", "cntn", "lib", "id_name"))),
      partitionCol = "day",
      warehouseDir = wh)

    val result = LibraryRun.run(spark, cfg, keyCols = Seq("day", "id"))
    assert(result.tables("counters").count() == 40)
    val failed = result.report.filter(col("status") === "failed").count()
    assert(failed == 0, s"clean load must reconcile clean:\n${result.junitXml}")
    assert(result.junitXml.contains("failures=\"0\""))
    // the reference's compare_data runs FIVE check kinds per table
    // (HlxTools.py:785-936); all five must be present in the report
    val kinds = result.report.select("suite").distinct()
      .collect().map(_.getString(0)).toSet
    assert(kinds == Set("record_counts", "missing_records", "value_diffs",
      "missing_columns", "referential"), s"suite kinds: $kinds")

    // reload only day 2 with changed data: partition overwrite must
    // replace that day and leave day 1 untouched
    writeRaw(rawDir, "F_20240102.csv", "2024-01-02", 21 to 45)
    val result2 = LibraryRun.run(spark, cfg, keyCols = Seq("day", "id"))
    val byDay = result2.tables("counters").groupBy("day").count()
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(byDay("20240101") == 20 && byDay("20240102") == 25)
  }

  test("library run parses the raw feed once for a 3-route config") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

    val rawDir = java.nio.file.Files.createTempDirectory("lib_raw1p")
    val wh = java.nio.file.Files.createTempDirectory("lib_wh1p").toString
    writeRaw(rawDir, "F_20240101.csv", "2024-01-01", 1 to 30)
    val cfg = LibraryConfig(
      rawPath = rawDir.toString + "/*.csv",
      delimiter = "|",
      rawColumns = Seq("id", "cnt"),
      skipHeader = 1, skipFooter = 0, ignoreLines = Set(),
      rules = Seq(
        FromFilename("day", "F_(\\d{8})\\.csv", 1),
        Derived("idn", col("id").cast("long")),
        Derived("cntn", col("cnt").cast("long"))),
      tagRules = Seq(),
      routes = Seq(
        TableRoute("low", col("idn") <= 10, Seq("day", "id", "cntn")),
        TableRoute("mid", col("idn") > 10 && col("idn") <= 20, Seq("day", "id", "cntn")),
        TableRoute("high", col("idn") > 20, Seq("day", "id", "cntn"))),
      partitionCol = "day",
      warehouseDir = wh)

    val qes = scala.collection.mutable.ArrayBuffer[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qes.synchronized { qes += qe }
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    // collect tree nodes, descending through AQE wrappers (collect()
    // treats AdaptiveSparkPlanExec and QueryStageExec — including
    // TableCacheQueryStageExec, which wraps every cached-relation
    // read under AQE — as leaves); innerChildren of InMemoryTableScan
    // are deliberately NOT traversed — a text scan inside the cached
    // relation's plan executes once at cache build, which is exactly
    // what this test permits
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case x => x }.flatMap {
        case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
        case s: QueryStageExec        => s +: nodes(s.plan)
        case x                        => Seq(x)
      }
    spark.listenerManager.register(listener)
    try {
      val result = LibraryRun.run(spark, cfg, keyCols = Seq("day", "id"))
      assert(result.tables.keySet == Set("low", "mid", "high"))
      assert(result.tables.values.map(_.count()).sum == 30)
      // listener events are async; wait for all actions to report
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
        qes.synchronized(qes.size) < 3) Thread.sleep(100)
      val all = qes.synchronized(qes.toVector)
      assert(all.nonEmpty)
      val rawScans = all.flatMap(qe => nodes(qe.executedPlan)).collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("lib_raw1p")) => f
      }
      assert(rawScans.isEmpty,
        s"an action re-parsed the raw feed instead of reading the cached parse:\n${all.map(_.executedPlan).mkString("\n---\n")}")
      val cacheReads = all.count(qe =>
        nodes(qe.executedPlan).exists(_.isInstanceOf[InMemoryTableScanExec]))
      assert(cacheReads >= 3,
        s"route writes should read the persisted transform (got $cacheReads cache-reading actions)")
    } finally spark.listenerManager.unregister(listener)
  }

  test("library run reads zero-padded partition values back as written") {
    val rawDir = java.nio.file.Files.createTempDirectory("lib_raw_pad")
    val wh = java.nio.file.Files.createTempDirectory("lib_wh_pad").toString
    writeRaw(rawDir, "F_05.csv", "05", 1 to 5)
    writeRaw(rawDir, "F_12.csv", "12", 6 to 9)
    val cfg = LibraryConfig(
      rawPath = rawDir.toString + "/*.csv",
      delimiter = "|",
      rawColumns = Seq("id", "cnt"),
      skipHeader = 1, skipFooter = 0, ignoreLines = Set(),
      rules = Seq(
        FromFilename("day", "F_(\\d{2})\\.csv", 1),
        Derived("cntn", col("cnt").cast("long"))),
      tagRules = Seq(),
      routes = Seq(TableRoute("t", col("cntn").isNotNull, Seq("day", "id", "cntn"))),
      partitionCol = "day",
      warehouseDir = wh)
    val result = LibraryRun.run(spark, cfg, keyCols = Seq("day", "id"))
    // inferred as int, `day=05` would key as "51".."55" against the
    // transform's "051".."055" and miss both ways
    assert(result.tables("t").schema("day").dataType == org.apache.spark.sql.types.StringType)
    assert(result.tables("t").select("day").distinct().collect().map(_.getString(0)).toSet ==
      Set("05", "12"))
    assert(result.report.filter(col("status") === "failed").count() == 0, result.junitXml)
  }

  test("library run completes with a route that matches no rows") {
    val rawDir = java.nio.file.Files.createTempDirectory("lib_raw_none")
    val wh = java.nio.file.Files.createTempDirectory("lib_wh_none").toString
    writeRaw(rawDir, "F_20240101.csv", "", 1 to 5)
    import spark.implicits._
    val dim = (1 to 5).map(i => (i.toString, s"name$i")).toDF("k", "nm")
    val cfg = LibraryConfig(
      rawPath = rawDir.toString + "/*.csv",
      delimiter = "|",
      rawColumns = Seq("id", "cnt"),
      skipHeader = 1, skipFooter = 0, ignoreLines = Set(),
      rules = Seq(
        FromFilename("day", "F_(\\d{8})\\.csv", 1),
        Derived("cntn", col("cnt").cast("long")),
        Lookup("id_name", dim, Seq("id" -> "k"), "nm", lit("?"))),
      tagRules = Seq(),
      routes = Seq(
        TableRoute("all", col("cntn").isNotNull, Seq("day", "id", "cntn")),
        TableRoute("none", col("cnt") === "none", Seq("day", "id", "cntn"))),
      partitionCol = "day",
      warehouseDir = wh)
    val result = LibraryRun.run(spark, cfg, keyCols = Seq("day", "id"))
    assert(result.tables("all").count() == 5 && result.tables("none").count() == 0)
    assert(result.tables("none").schema == result.tables("all").schema)
    val noneCases = result.report
      .filter(col("test_name") === "none" || col("test_name").startsWith("none "))
      .select("suite", "status").collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(noneCases == Set("missing_records", "value_diffs", "missing_columns", "referential")
      .map(_ -> "passed"), noneCases)
    assert(!result.junitXml.contains("<failure"), result.junitXml)
  }

  test("library run job budget: no listing job for parse, a bounded report") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // 36 tiny files, one day each: past the 32-path threshold, so
    // reading the feed's glob as 36 root paths, or listing the loaded
    // table's 36 partition directories, is a parallel Spark job
    val rawDir = java.nio.file.Files.createTempDirectory("lib_raw_budget")
    val wh = java.nio.file.Files.createTempDirectory("lib_wh_budget").toString
    for (i <- 0 until 36)
      writeRaw(rawDir, s"N${i % 12}_${20240101 + i}.csv", "", (i * 10) until (i * 10 + 3))
    import spark.implicits._
    val idDim = (0 until 1200).map(i => (i.toString, s"name$i")).toDF("k", "nm")
    val nodeDim = (0 until 12).map(n => (n.toString, s"SITE${n % 3}")).toDF("n_node", "n_site")
    val cfg = LibraryConfig(
      rawPath = rawDir.toString + "/*.csv",
      delimiter = "|",
      rawColumns = Seq("id", "cnt"),
      skipHeader = 1, skipFooter = 0, ignoreLines = Set(),
      rules = Seq(
        FromFilename("node", "N(\\d+)_", 1),
        FromFilename("day", "_(\\d{8})\\.csv", 1),
        Derived("cntn", col("cnt").cast("long")),
        Lookup("id_name", idDim, Seq("id" -> "k"), "nm", lit("?")),
        Lookup("site", nodeDim, Seq("node" -> "n_node"), "n_site", lit("?"))),
      tagRules = Seq(),
      routes = Seq(TableRoute("t", col("cntn").isNotNull,
        Seq("day", "id", "node", "cntn", "id_name", "site"))),
      partitionCol = "day",
      warehouseDir = wh)

    val sc = spark.sparkContext
    // only jobs started from this thread (and the threads it spawns)
    // carry the marker, whatever else the session runs
    val marker = "graft.test.cycle"
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty(marker) != null).foreach { p =>
          descriptions.add(Option(p.getProperty("spark.job.description")).getOrElse("<none>"))
        }
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(marker, "1")
    sc.setJobDescription("caller")
    try {
      val result = LibraryRun.run(spark, cfg, keyCols = Seq("day", "id"))
      assert(sc.getLocalProperty("spark.job.description") == "caller",
        "the caller's job description must be restored")
      assert(!result.junitXml.contains("<failure"), result.junitXml)
      org.apache.spark.GraftListenerGlue.drain(sc)
    } finally {
      sc.setLocalProperty(marker, null)
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    // Spark's parallel file listing replaces the job description with
    // its own, naming the listed paths: the feed's listing is parse,
    // the warehouse's is readback
    val byPhase = descriptions.toArray(Array.empty[String]).toSeq
      .map {
        case d if d.startsWith("Listing leaf files") && d.contains(rawDir.toString) =>
          "LibraryRun parse"
        case d if d.startsWith("Listing leaf files") && d.contains(wh) => "LibraryRun readback"
        case d => d.split(' ').take(2).mkString(" ")
      }
      .groupBy(identity).view.mapValues(_.size).toMap
    info(s"jobs per phase: ${byPhase.toSeq.sorted.mkString(", ")}")
    assert(byPhase.keys.forall(_.startsWith("LibraryRun ")),
      s"every cycle job carries a LibraryRun description: $byPhase")
    assert(byPhase.getOrElse("LibraryRun parse", 0) == 0,
      s"parse lists the feed's one directory on the driver: $byPhase")
    // the feed's files are read whole, so the slice runs in the cache
    // build's own tasks: the two lookup broadcasts, the cache build,
    // the rebalance and the write
    assert(byPhase.getOrElse("LibraryRun load", 0) <= 5, s"load job budget: $byPhase")
    assert(byPhase.getOrElse("LibraryRun readback", 0) <= 2,
      s"readback lists the warehouse once and infers its schema once: $byPhase")
    // compareData's keyed count and referential collect; a clean
    // report renders its XML with no job
    assert(byPhase.getOrElse("LibraryRun report", 0) <= 8, s"report job budget: $byPhase")
  }

  test("library run stream lists its feed on the driver and loads only the glob's files") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val root = java.nio.file.Files.createTempDirectory("lib_stream_feed")
    val rawDir = root.resolve("raw")
    val staging = root.resolve("staging")
    val wh = root.resolve("wh").toString
    java.nio.file.Files.createDirectories(rawDir)
    // a delivery is written beside the feed and moved in whole, so the
    // stream never sees part of it
    def deliver(rel: String, files: (String, Range)*): Unit = {
      val d = staging.resolve(rel)
      files.foreach { case (name, ids) =>
        java.nio.file.Files.createDirectories(d.resolve(name).getParent)
        writeRaw(d, name, "", ids)
      }
      java.nio.file.Files.move(d, rawDir.resolve(rel), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val cfg = LibraryConfig(
      rawPath = rawDir.toString + "/*/*.csv",
      delimiter = "|",
      rawColumns = Seq("id", "cnt"),
      skipHeader = 1, skipFooter = 0, ignoreLines = Set(),
      rules = Seq(
        FromFilename("day", "_(\\d{8})\\.csv", 1),
        Derived("cntn", col("cnt").cast("long"))),
      tagRules = Seq(),
      routes = Seq(TableRoute("t", col("cntn").isNotNull, Seq("day", "id", "cntn"))),
      partitionCol = "day",
      warehouseDir = wh)
    // Spark's parallel file listing names the listed paths in its job description
    val listings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(d => d.startsWith("Listing leaf files") && d.contains(rawDir.toString))
          .foreach(listings.add)
    }
    val sc = spark.sparkContext
    def listed(): Seq[String] = {
      org.apache.spark.GraftListenerGlue.drain(sc)
      val out = listings.toArray(Array.empty[String]).toSeq
      listings.clear()
      out
    }
    def days(): Set[String] =
      spark.read.parquet(s"$wh/t").select(col("day").cast("string")).distinct()
        .collect().map(_.getString(0)).toSet
    sc.addSparkListener(listener)
    try {
      deliver("d0001",
        (0 until 36).map(i => s"N${i % 12}_${20240101 + i}.csv" -> (i * 10 until i * 10 + 3)): _*)
      val writer = LibraryRun.stream(spark, cfg)
      assert(listed().isEmpty, "defining the stream lists the feed on the driver")
      val q = writer.option("checkpointLocation", root.resolve("ckpt").toString).start()
      try {
        q.processAllAvailable()
        // the one allowed listing: the source building its first batch
        // over that batch's own 36 files
        val first = listed()
        assert(first.size <= 1 && first.forall(_.contains("36 paths")), first)
        assert(days().size == 36)
        // one file in the glob, one nested below a delivery directory
        deliver("d0002", "N0_20240201.csv" -> (0 until 3), "late/N1_20240202.csv" -> (3 until 6))
        q.processAllAvailable()
        // one file directly under the feed root
        java.nio.file.Files.createDirectories(staging)
        writeRaw(staging, "N2_20240203.csv", "", 6 until 9)
        java.nio.file.Files.move(staging.resolve("N2_20240203.csv"),
          rawDir.resolve("N2_20240203.csv"), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        q.processAllAvailable()
        assert(listed().isEmpty, "a trigger lists the feed on the driver")
      } finally q.stop()
      assert(q.exception.isEmpty, q.exception)
      assert(days() == (0 until 36).map(i => (20240101 + i).toString).toSet + "20240201",
        "files outside the glob never reach the warehouse")
      assert(spark.read.parquet(s"$wh/t").count() == 36 * 3 + 3)
    } finally sc.removeSparkListener(listener)
  }

  test("overwritePartitions is idempotent and partition-scoped") {
    val wh = java.nio.file.Files.createTempDirectory("ow_wh").toString + "/t"
    import spark.implicits._
    val day1 = Seq(("d1", 1), ("d1", 2)).toDF("day", "v")
    val day2 = Seq(("d2", 3)).toDF("day", "v")
    Maintenance.overwritePartitions(day1, wh, "day")
    Maintenance.overwritePartitions(day2, wh, "day")
    assert(spark.read.parquet(wh).count() == 3)
    // re-write day2 with different rows: only day2 replaced
    val day2b = Seq(("d2", 30), ("d2", 31)).toDF("day", "v")
    Maintenance.overwritePartitions(day2b, wh, "day")
    val out = spark.read.parquet(wh)
    assert(out.count() == 4)
    assert(out.filter(col("day") === "d2").count() == 2)
  }
}
