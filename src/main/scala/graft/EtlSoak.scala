package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.{ChillPipeline, Derived, FieldRule, FromFilename, FromTag, LibraryConfig, LibraryRun, TableRoute}

/** At-scale witness for the ETL raw-source family — the one family
  * the full-suite 100× soak excluded (r7 verdict gap #1), and the
  * reference's actual core: Partrans reads MANY raw files per
  * delivery (Partrans.py:222-236), so the scale axis here is file
  * COUNT × file size, not one big table.
  *
  * What it does:
  *   1. GEN  — render the events feed into one raw file per
  *      (node, day) in each of the four source formats: A1 delimiter
  *      CSV (with junk header, #REGION tag line, an ignore-line, and
  *      a footer), A12 fixed-width, A13 quoted CSV (embedded
  *      delimiters + doubled quotes), A14 JSON-lines (missing fields
  *      + one planted corrupt line per file).
  *   2. RUN  — parse each format back through the library's own
  *      operators (rawCsv/sliceFixedWidth/sliceCsvQuoted/
  *      sliceJsonLines + FromFilename/FromTag rules) and aggregate.
  *   3. CHECK — every rollup is compared EXACTLY (exceptAll both
  *      directions) against the same aggregate computed directly from
  *      the parquet source: any parse/slice/tag/filename defect at
  *      scale breaks the witness. The full library cycle
  *      (parse→load→compare→report) must report zero failed cases,
  *      and the streaming ingest's warehouse read-back must match the
  *      feed.
  *   4. PLAN — asserts the `_file`-keyed slicing machinery never
  *      exchanges the feed body across files (`Exchange
  *      hashpartitioning(_file` must not appear). A feed whose files
  *      are each read whole by one task is sliced and tagged in the
  *      scan's own tasks, so its plan must hold no join at all; a feed
  *      with split files must bring its per-(split,file) offsets back
  *      as a broadcast join, with at most the tag capture's exchange
  *      above a tag filter — the per-file design argued in SURVEY §5,
  *      now checked at soak scale.
  *
  * Output: one JSON line per run + ETL_SOAK artifact file
  * (SPARK_GRAFT_SOAK_OUT), one row per family with wall seconds, row
  * count, file count, mismatch count, and verdict.
  *
  * Usage: runMain graft.EtlSoak <sfDir> <workDir> [nodesPerDay]
  * (e.g. localdata/sf10 localdata/etl100 32 → ~32 files/day/format ×
  * ~31 days ≈ 1000 files per format at 10M rows).
  */
object EtlSoak {

  private final case class Fam(name: String, files: Long, rows: Long,
                               wallS: Double, mismatch: Long, note: String) {
    def verdict: String = if (mismatch == 0) "pass" else "FAIL"
    def json: String =
      s"""${Json.str(name)}:{"files":$files,"rows":$rows,"wall_s":${math.round(wallS * 100) / 100.0},""" +
        s""""mismatch":$mismatch,"verdict":"$verdict","note":${Json.str(note)}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "localdata/sf10"
    val work = if (args.length > 1) args(1) else "localdata/etl100"
    val nodes = if (args.length > 2) args(2).toInt else 32
    val spark = Session.build()
    import spark.implicits._

    Tables.validate(spark, sfDir)
    // the soaked feed, with every derived value the generators and the
    // expectations share (render and check MUST use the same exprs)
    def base: DataFrame = Tables.events(spark, sfDir).select(
      pmod(col("user_id"), lit(nodes)).cast("int").as("node"),
      date_format(col("ts"), "yyyyMMdd").as("fday"),
      col("event_id"), col("event_type"),
      floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))

    // ---- GEN ---------------------------------------------------------
    // one string per file, written by the executors (any file count
    // without a per-file Spark job; ~|rows/nodes/days| lines per file)
    def writeFiles(files: DataFrame): Long = {
      val n = spark.sparkContext.longAccumulator("files_written")
      files.select(col("path"), col("content")).as[(String, String)]
        .foreachPartition { it: Iterator[(String, String)] =>
          it.foreach { case (p, c) =>
            val f = new java.io.File(p)
            f.getParentFile.mkdirs()
            val w = new java.io.OutputStreamWriter(
              new java.io.FileOutputStream(f),
              java.nio.charset.StandardCharsets.UTF_8)
            try w.write(c) finally w.close()
          }
        }
      // count from the fs — the accumulator can double-count retries
      0L
    }
    def fileCount(sub: String): Long = {
      val d = new java.io.File(s"$work/$sub")
      if (d.isDirectory) d.listFiles().count(_.isFile).toLong else 0L
    }
    def bodyOf(line: org.apache.spark.sql.Column) =
      array_join(transform(
        array_sort(collect_list(struct(col("event_id"), line.as("line")))),
        x => x.getField("line")), "\n")

    val regen = !new java.io.File(s"$work/a1").isDirectory ||
      sys.env.contains("SPARK_GRAFT_REGEN")
    if (regen) {
      val t0 = System.nanoTime()
      // A1 delimiter: 2-line header (junk + #REGION tag), one
      // ignore-line at the top of the body, EOF footer
      writeFiles(base.groupBy(col("node"), col("fday"))
        .agg(bodyOf(concat_ws("|", col("event_id"), col("event_type"), col("cents"))).as("body"))
        .select(
          concat(lit(s"$work/a1/NODE"), col("node"), lit("_"), col("fday"), lit(".csv")).as("path"),
          concat(lit("HDR|gen|1\n#REGION=R"), (col("node") * 10).cast("string"),
            lit("\nIGNORE|ME|0\n"), col("body"), lit("\nEOF|x|0")).as("content")))
      // A12 fixed-width: id 12 zero-padded, type 10 space-padded,
      // cents 15 zero-padded
      writeFiles(base.groupBy(col("node"), col("fday"))
        .agg(bodyOf(concat(
          lpad(col("event_id").cast("string"), 12, "0"),
          rpad(col("event_type"), 10, " "),
          lpad(col("cents").cast("string"), 15, "0"))).as("body"))
        .select(
          concat(lit(s"$work/fw/NODE"), col("node"), lit("_"), col("fday"), lit(".fw")).as("path"),
          concat(lit("HDRLINE1\nHDRLINE2\n"), col("body"), lit("\nEOF")).as("content")))
      // A13 quoted CSV: payload always carries an embedded comma;
      // every 19th id also a doubled-quote escape
      val payload = concat(col("event_type"), lit(",q"),
        when(col("event_id") % 19 === 0, lit("\"x")).otherwise(lit("")))
      writeFiles(base.groupBy(col("node"), col("fday"))
        .agg(bodyOf(concat(
          col("event_id").cast("string"), lit(","),
          lit("\""), regexp_replace(payload, "\"", "\"\""), lit("\","),
          col("cents").cast("string"))).as("body"))
        .select(
          concat(lit(s"$work/qc/NODE"), col("node"), lit("_"), col("fday"), lit(".csv")).as("path"),
          concat(lit("h1,h2,h3\nh1,h2,h3\n"), col("body"), lit("\nEOF,0,0")).as("content")))
      // A14 JSON-lines: every 23rd id omits the cents field; one
      // planted corrupt line per file at the top of the body
      def obj(withC: Boolean) = to_json(struct(
        (Seq(col("event_id").as("e"), col("event_type").as("t")) ++
          (if (withC) Seq(col("cents").as("c")) else Nil)): _*))
      writeFiles(base.groupBy(col("node"), col("fday"))
        .agg(bodyOf(when(col("event_id") % 23 === 0, obj(withC = false))
          .otherwise(obj(withC = true))).as("body"))
        .select(
          concat(lit(s"$work/jl/NODE"), col("node"), lit("_"), col("fday"), lit(".jsonl")).as("path"),
          concat(lit("HDR1\nHDR2\n{corrupt\n"), col("body"), lit("\nEOF")).as("content")))
      println(f"GEN done in ${(System.nanoTime() - t0) / 1e9}%.1f s: " +
        s"a1=${fileCount("a1")} fw=${fileCount("fw")} qc=${fileCount("qc")} jl=${fileCount("jl")} files")
    }

    // ---- RUN + CHECK -------------------------------------------------
    val fams = scala.collection.mutable.ArrayBuffer[Fam]()
    var planViolations = 0

    // The body must NEVER exchange on _file. A whole-file feed
    // (ChillPipeline.readsWholeFiles) is parsed in the scan's own tasks
    // and joins nothing. For split files, the one legitimate _file
    // exchange is tag capture (withTagColumnsFrom's min_by groups the
    // tag-FILTERED lines per file — ≈1 row per file, the dimension-
    // sized broadcast input), so a family with tag rules is allowed
    // exactly that many, the tag filter must be visible in-plan, and
    // the per-(split,file) offsets must come back as a broadcast join.
    def assertNoFileExchange(df: DataFrame, fam: String, wholeFiles: Boolean,
                             allowedTagExchanges: Int): Unit = {
      def violation(msg: String): Unit = {
        planViolations += 1
        println(s"PLAN VIOLATION [$fam]: $msg")
      }
      val p = df.queryExecution.executedPlan.toString
      val n = "Exchange hashpartitioning\\(_file".r.findAllIn(p).length
      if (wholeFiles) {
        if (n > 0) violation(s"$n _file exchanges — feed body exchanged on _file")
        if (p.contains("Join")) violation("a whole-file feed joined instead of parsing in its scan")
      } else {
        if (n > allowedTagExchanges)
          violation(s"$n _file exchanges (allowed $allowedTagExchanges tag-capture) — " +
            "feed body exchanged on _file")
        if (allowedTagExchanges > 0 && !p.contains("Contains(value"))
          violation("tag exchange without an upstream tag filter — it would carry the whole body")
        if (!p.contains("BroadcastHashJoin")) violation("per-(split,file) offsets not broadcast")
      }
    }

    def run(name: String, note: String, feed: String)(parsed: => DataFrame, expected: DataFrame,
                                                      files: Long, allowedTagExchanges: Int = 0): Unit = {
      val got = parsed
      assertNoFileExchange(got, name,
        ChillPipeline.readsWholeFiles(ChillPipeline.textLines(spark, feed)), allowedTagExchanges)
      val t0 = System.nanoTime()
      val rows = got.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val mism = got.exceptAll(expected).count() + expected.exceptAll(got).count()
      val f = Fam(name, files, rows, wall, mism, note)
      fams += f
      println(f"${f.verdict}%-5s $name%-14s files=$files rows=$rows wall=$wall%.1f s mismatch=$mism")
    }

    // A1+A3+A4: delimiter parse, filename fields, tag field
    run("a1_csv", "delimiter+slice+ignore+tag+filename", s"$work/a1/*.csv")(
      parsed = {
        val lines = ChillPipeline.textLines(spark, s"$work/a1/*.csv")
        val raw = ChillPipeline.rawCsvFrom(spark, lines, "|",
          Seq("event_id", "event_type", "cents"), 2, 1, Set("IGNORE|ME|0"))
        val tagRule = FromTag("region", "#REGION",
          c => regexp_extract(c, "#REGION=(R\\d+)", 1))
        FieldRule.applyAll(
            ChillPipeline.withTagColumnsFrom(lines, raw, Seq(tagRule)),
            Seq(FromFilename("node_id", "NODE(\\d+)_", 1),
              FromFilename("file_day", "_(\\d{8})\\.csv", 1), tagRule))
          .groupBy(col("node_id").cast("int").as("node"), col("file_day"), col("region"))
          .agg(count(lit(1)).as("n"), sum(col("cents").cast("long")).as("sum_cents"))
      },
      expected = base.groupBy(col("node"), col("fday").as("file_day"),
          concat(lit("R"), (col("node") * 10).cast("string")).as("region"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents")),
      files = fileCount("a1"), allowedTagExchanges = 1)

    // A12: fixed-width positional parse
    run("fixed_width", "positional substring parse", s"$work/fw/*.fw")(
      parsed = ChillPipeline.rawFixedWidth(spark, s"$work/fw/*.fw", Seq(
          ChillPipeline.FixedWidthCol("event_id", 1, 12),
          ChillPipeline.FixedWidthCol("event_type", 13, 10),
          ChillPipeline.FixedWidthCol("cents", 23, 15)),
          2, 1, Set.empty)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents").cast("long")).as("sum_cents")),
      expected = base.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents")),
      files = fileCount("fw"))

    // A13: quoted CSV round-trip (embedded delimiter + doubled quote)
    run("csv_quoted", "RFC4180 quote/escape round-trip", s"$work/qc/*.csv")(
      parsed = ChillPipeline.rawCsvQuoted(spark, s"$work/qc/*.csv",
          Seq("event_id", "payload", "cents"), 2, 1, Set.empty)
        .groupBy(col("payload"))
        .agg(count(lit(1)).as("n"), sum(col("cents").cast("long")).as("sum_cents")),
      expected = base.groupBy(concat(col("event_type"), lit(",q"),
          when(col("event_id") % 19 === 0, lit("\"x")).otherwise(lit("")))
          .as("payload"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents")),
      files = fileCount("qc"))

    // A14: JSON-lines schema-on-read (missing fields + corrupt gate)
    run("jsonl", "schema-on-read; corrupt lines quarantined", s"$work/jl/*.jsonl")(
      parsed = {
        val p = ChillPipeline.rawJsonLines(spark, s"$work/jl/*.jsonl",
          org.apache.spark.sql.types.StructType.fromDDL("e BIGINT, t STRING, c BIGINT"),
          2, 1, Set.empty)
        p.filter(!col("_corrupt")).groupBy(col("t"))
          .agg(count(lit(1)).as("n"), sum(col("c")).as("sum_c"),
            sum(when(col("c").isNull, 1L).otherwise(0L)).as("n_missing"))
      },
      expected = base.groupBy(col("event_type").as("t"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_id") % 23 === 0, lit(null).cast("long"))
            .otherwise(col("cents"))).as("sum_c"),
          sum(when(col("event_id") % 23 === 0, 1L).otherwise(0L)).as("n_missing")),
      files = fileCount("jl"))

    // corrupt-line quarantine count: exactly one planted per file
    locally {
      val t0 = System.nanoTime()
      val nCorrupt = ChillPipeline.rawJsonLines(spark, s"$work/jl/*.jsonl",
        org.apache.spark.sql.types.StructType.fromDDL("e BIGINT, t STRING, c BIGINT"),
        2, 1, Set.empty).filter(col("_corrupt")).count()
      val f = Fam("jsonl_corrupt", fileCount("jl"), nCorrupt,
        (System.nanoTime() - t0) / 1e9,
        math.abs(nCorrupt - fileCount("jl")), "1 planted corrupt line per file")
      fams += f
      println(s"${f.verdict} jsonl_corrupt quarantined=$nCorrupt expected=${fileCount("jl")}")
    }

    // C7 at scale: the full library cycle over the many-file feed —
    // parse → rules → route → partition-overwrite load → read back →
    // all reconcile suites; a clean cycle must report ZERO failed rows
    locally {
      val wh = s"$work/wh_cycle"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
      val tagRule = FromTag("region", "#REGION",
        c => regexp_extract(c, "#REGION=(R\\d+)", 1))
      val cfg = LibraryConfig(
        rawPath = s"$work/a1/*.csv",
        delimiter = "|",
        rawColumns = Seq("event_id", "event_type", "cents"),
        skipHeader = 2, skipFooter = 1, ignoreLines = Set("IGNORE|ME|0"),
        rules = Seq(
          FromFilename("node_id", "NODE(\\d+)_", 1),
          FromFilename("file_day", "_(\\d{8})\\.csv", 1), tagRule,
          Derived("event_n", col("event_id").cast("long")),
          Derived("cents_n", col("cents").cast("long"))),
        tagRules = Seq(tagRule),
        routes = Seq(TableRoute("events_t", col("cents_n").isNotNull,
          Seq("file_day", "event_n", "node_id", "region", "event_type", "cents_n"))),
        partitionCol = "file_day",
        warehouseDir = wh)
      val t0 = System.nanoTime()
      val res = LibraryRun.run(spark, cfg, keyCols = Seq("file_day", "event_n"))
      val nFailed = res.report.filter(col("status") === "failed").count()
      val nRows = res.tables("events_t").count()
      val wall = (System.nanoTime() - t0) / 1e9
      // the loaded warehouse must ALSO match the parquet source exactly
      val whAgg = res.tables("events_t")
        .groupBy(col("node_id").cast("int").as("node"))
        .agg(count(lit(1)).as("n"), sum(col("cents_n")).as("sum_cents"))
      val expAgg = base.groupBy(col("node"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      val mism = whAgg.exceptAll(expAgg).count() + expAgg.exceptAll(whAgg).count()
      val f = Fam("library_cycle", fileCount("a1"), nRows, wall,
        nFailed + mism, "parse-load-compare-report; 0 failed cases required")
      fams += f
      println(f"${f.verdict} library_cycle rows=$nRows failed_cases=$nFailed " +
        f"warehouse_mismatch=$mism wall=$wall%.1f s")
    }

    // E14 at scale: streaming ingestion of the same many files (one
    // file = one (node, day) slice → partition per file_key honors the
    // files-carry-whole-partitions idempotency contract even when
    // AvailableNow splits the backlog into several micro-batches)
    locally {
      val wh = s"$work/wh_stream"
      val ck = s"$work/ck_stream"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
      val cfg = LibraryConfig(
        rawPath = s"$work/a1/*.csv",
        delimiter = "|",
        rawColumns = Seq("event_id", "event_type", "cents"),
        skipHeader = 2, skipFooter = 1, ignoreLines = Set("IGNORE|ME|0"),
        rules = Seq(
          FromFilename("node_id", "NODE(\\d+)_", 1),
          FromFilename("file_day", "_(\\d{8})\\.csv", 1),
          Derived("file_key", concat(col("node_id"), lit("_"), col("file_day"))),
          Derived("cents_n", col("cents").cast("long"))),
        tagRules = Seq.empty,
        routes = Seq(TableRoute("events_t", col("cents_n").isNotNull,
          Seq("file_key", "file_day", "event_id", "cents_n"))),
        partitionCol = "file_key",
        warehouseDir = wh)
      val t0 = System.nanoTime()
      val q = LibraryRun.stream(spark, cfg)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .start()
      q.awaitTermination()
      val back = spark.read.parquet(s"$wh/events_t")
        .groupBy(col("file_day"))
        .agg(count(lit(1)).as("n"), sum(col("cents_n")).as("sum_cents"))
      val exp = base.groupBy(col("fday").as("file_day"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      val mism = back.exceptAll(exp).count() + exp.exceptAll(back).count()
      val rows = spark.read.parquet(s"$wh/events_t").count()
      val wall = (System.nanoTime() - t0) / 1e9
      val f = Fam("stream_ingest", fileCount("a1"), rows, wall, mism,
        "AvailableNow file stream; per-file partition overwrite")
      fams += f
      println(f"${f.verdict} stream_ingest rows=$rows wall=$wall%.1f s mismatch=$mism")
    }

    // ---- artifact ----------------------------------------------------
    val nFail = fams.count(_.mismatch != 0) + planViolations
    val line = s"""{"soak":"etl_many_file","sf_dir":${Json.str(sfDir)},"nodes":$nodes,""" +
      s""""plan_violations":$planViolations,"n_fail":$nFail,""" +
      s""""families":{${fams.map(_.json).mkString(",")}}}"""
    println(line)
    val out = sys.env.getOrElse("SPARK_GRAFT_SOAK_OUT", "/root/repo/ETL_SOAK_latest.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case _: Throwable => () }
    spark.stop()
    if (nFail > 0) sys.exit(1)
  }
}
