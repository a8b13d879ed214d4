package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl._

/** A1/A3/A4 end-to-end: raw CSV files with header tags, valid-line
  * slicing, ignore-lines, filename- and tag-derived fields — the
  * reference's Partrans flow over synthetic raw PM files.
  */
class EtlSourceSpec extends AnyFunSuite {
  import SparkTestSession._

  lazy val rawDir: String = {
    val d = java.nio.file.Files.createTempDirectory("rawpm")
    def write(name: String, body: String): Unit =
      java.nio.file.Files.writeString(d.resolve(name), body)
    write("NODE_A_20240105.csv",
      """#COLLECTOR=cell-east-1
        |#SKIP ME
        |id|cnt1|cnt2
        |1|10|100
        |2|20|200
        |IGNORE_ROW
        |3|30|300
        |#footer junk""".stripMargin)
    write("NODE_B_20240106.csv",
      """#COLLECTOR=cell-west-9
        |#SKIP ME
        |id|cnt1|cnt2
        |7|70|700
        |8|80|800
        |#footer junk""".stripMargin)
    d.toString
  }

  test("rawCsv: valid-line slice + ignore_lines + delimiter split") {
    val df = ChillPipeline.rawCsv(spark, rawDir + "/*.csv", "|",
      Seq("id", "cnt1", "cnt2"), skipHeader = 3, skipFooter = 1,
      ignoreLines = Set("IGNORE_ROW"))
    assert(df.count() == 5)
    assert(df.filter(col("id") === "3").select("cnt2").collect().head.getString(0) == "300")
  }

  test("rawCsv derives columns from the feed header when none are configured") {
    // slice [2:-1] keeps the header line first — the reference's
    // read_csv takes names from it; the body then starts one line on
    val df = ChillPipeline.rawCsv(spark, rawDir + "/*.csv", "|",
      Seq.empty, skipHeader = 2, skipFooter = 1,
      ignoreLines = Set("IGNORE_ROW"))
    assert(df.columns.toSet == Set("_file", "id", "cnt1", "cnt2"))
    assert(df.count() == 5) // header lines are consumed, not data rows
    assert(df.filter(col("id") === "7").select("cnt1").collect().head.getString(0) == "70")
  }

  test("rawCsv takes the derived header from a file the parse reads, not a hidden one") {
    // Hadoop's glob matches `_a.csv` and `.c.csv`; Spark's read skips
    // both, so neither may supply the header
    val d = java.nio.file.Files.createTempDirectory("hdrpm")
    java.nio.file.Files.writeString(d.resolve("_a.csv"), "x|y|z\n9|9|9")
    java.nio.file.Files.writeString(d.resolve(".c.csv"), "p|q\n8|8")
    java.nio.file.Files.writeString(d.resolve("b.csv"), "id|cnt\n1|10\n2|20")
    val df = ChillPipeline.rawCsv(spark, d.toString + "/*.csv", "|",
      Seq.empty, skipHeader = 0, skipFooter = 0, ignoreLines = Set.empty)
    assert(df.columns.toSeq == Seq("_file", "id", "cnt"))
    assert(df.select("id", "cnt").collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("1", "10"), ("2", "20")))
  }

  test("rawCsv derives header columns without the file's UTF-8 byte order mark") {
    val d = java.nio.file.Files.createTempDirectory("bompm")
    java.nio.file.Files.writeString(d.resolve("b.csv"), "\uFEFFid|cnt\r\n1|10\r\n2|20")
    val df = ChillPipeline.rawCsv(spark, d.toString + "/*.csv", "|",
      Seq.empty, skipHeader = 0, skipFooter = 0, ignoreLines = Set.empty)
    // the text scan strips the mark from the line it returns
    assert(spark.read.text(d.toString).head().getString(0) == "id|cnt")
    assert(df.columns.toSeq == Seq("_file", "id", "cnt"))
    assert(df.select("id", "cnt").collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("1", "10"), ("2", "20")))
  }

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("one-pass parse of whole files equals the chunk path, lines and tags") {
    val d = java.nio.file.Files.createTempDirectory("onepass")
    def write(name: String, body: String): Unit =
      java.nio.file.Files.writeString(d.resolve(name), body)
    write("cr.csv", "H1\rH2\r#TAG=cr\ra\rb\rF")
    write("crlf.csv", "H1\r\nH2\r\nx1\r\n#TAG=crlf\r\nx2\r\nF\r\n")
    write("bom.csv", "\uFEFF#TAG=bom\nH2\nb1\nb2\nF")
    write("empty.csv", "")
    write("short.csv", "only\ntwo")
    write("ign.csv", "H1\nH2\nIGNORE\nk1\nIGNORE\nk2\nF") // no tag line
    write("rep.csv", "#TAG=first\nH2\nr1\n#TAG=second\nr2\nF")
    write("foot.csv", "H1\nH2\nf1\nf2\n#TAG=foot")
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(d.resolve("z.csv.gz")))
    try gz.write("H1\nH2\n#TAG=gz\ng1\ng2\nF\n".getBytes("UTF-8")) finally gz.close()
    val tagRule = FromTag("t", "#TAG", identity)
    def parse(): (org.apache.spark.sql.DataFrame, Map[(String, String, String), Int]) = {
      val lines = ChillPipeline.textLines(spark, d.toString + "/*")
      val df = ChillPipeline.withTagColumnsFrom(lines,
        ChillPipeline.slicedBody(lines, 2, 1, Set("IGNORE")), Seq(tagRule))
      val rows = df.select("_file", "value", "_tag_t").collect()
        .map(r => (r.getString(0).split('/').last, r.getString(1), r.getString(2)))
      (df, rows.groupBy(identity).view.mapValues(_.length).toMap)
    }
    val (onePass, got) = parse()
    assert(ChillPipeline.readsWholeFiles(ChillPipeline.textLines(spark, d.toString + "/*")))
    val p = planOf(onePass)
    assert(!p.contains("Exchange") && !p.contains("Join"), s"one-pass parse plan:\n$p")
    val (chunked, want) = withSplitSize(8) {
      assert(!ChillPipeline.readsWholeFiles(ChillPipeline.textLines(spark, d.toString + "/*")))
      parse()
    }
    assert(planOf(chunked).contains("BroadcastHashJoin"), planOf(chunked))
    assert(got == want)
    def rows(file: String, tag: String, values: String*) = values.map(v => (file, v, tag))
    val expected = Seq(
      rows("cr.csv", "#TAG=cr", "#TAG=cr", "a", "b"),
      rows("crlf.csv", "#TAG=crlf", "x1", "#TAG=crlf", "x2"),
      rows("bom.csv", "#TAG=bom", "b1", "b2"),
      rows("ign.csv", null, "k1", "k2"),
      rows("rep.csv", "#TAG=first", "r1", "#TAG=second", "r2"),
      rows("foot.csv", "#TAG=foot", "f1", "f2"),
      rows("z.csv.gz", "#TAG=gz", "#TAG=gz", "g1", "g2")).flatten
    assert(got == expected.map(_ -> 1).toMap)
  }

  test("a whole-file slice throws when its files split before the action") {
    val d = java.nio.file.Files.createTempDirectory("onepassguard")
    for (f <- 1 to 3)
      java.nio.file.Files.writeString(d.resolve(s"f$f.csv"),
        (1 to 12).map(i => s"r$i|$f").mkString("\n"))
    val df = ChillPipeline.rawCsv(spark, d.toString + "/*.csv", "|",
      Seq("id", "f"), skipHeader = 1, skipFooter = 1, ignoreLines = Set.empty)
    val e = withSplitSize(16)(intercept[org.apache.spark.SparkException](df.collect()))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("sliceLines: ")), e)
    // the same frame slices exactly again once the files are whole
    assert(df.count() == 30)
  }

  test("textLines reads the lines spark.read.text reads, for every path form") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val root = java.nio.file.Files.createTempDirectory("linespm")
    def write(rel: String, body: String): Unit = {
      val f = root.resolve(rel)
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.writeString(f, body)
    }
    // hidden files, a success marker and a non-matching name beside the feed
    write("feed/a.csv", "a1\na2")
    write("feed/b.csv", "b1")
    write("feed/_x.csv", "hidden underscore")
    write("feed/.y.csv", "hidden dot")
    write("feed/_SUCCESS", "")
    write("feed/notes.txt", "not a csv")
    // a plain subdirectory
    write("sub/a.csv", "s1")
    write("sub/inner/c.csv", "nested")
    // a k=v subdirectory: a directory read would fail on conflicting
    // partition directory structures
    write("part/a.csv", "p1")
    write("part/day=1/c.csv", "partition")
    // delivery directories, one of them hidden, and a file beside them
    write("deliv/d1/a.csv", "d1a")
    write("deliv/d1/_h.csv", "hidden in d1")
    write("deliv/d2/b.csv", "d2b")
    write("deliv/d2/x.txt", "not a csv")
    write("deliv/_hid/c.csv", "in a hidden dir")
    write("deliv/top.csv", "top level")
    def lines(df: org.apache.spark.sql.DataFrame): Map[(String, String), Int] =
      df.collect().map(r => (r.getString(0), r.getString(1))).groupBy(identity)
        .view.mapValues(_.length).toMap
    def rootsAreDirs(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
        .collect { case r: HadoopFsRelation => r.location.rootPaths }.flatten
        .forall(p => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(p.toUri)))
    val cases = Seq(
      "feed/*.csv" -> true, "feed/*" -> true, "sub/*.csv" -> false, "part/*.csv" -> false,
      "deliv/*/*.csv" -> true, "deliv/d{1,2}/*" -> true, "feed" -> true, "feed/a.csv" -> false)
    for ((rel, dirForm) <- cases) {
      val path = s"$root/$rel"
      val got = ChillPipeline.textLines(spark, path)
      val want = spark.read.text(path).select(input_file_name(), col("value"))
      assert(lines(got) == lines(want), s"lines of $rel")
      assert(rootsAreDirs(got) == dirForm, s"read form of $rel")
    }
    assert(lines(ChillPipeline.textLines(spark, s"$root/feed/*.csv")).keySet.map(_._2) ==
      Set("a1", "a2", "b1"))
    // a glob matching no file fails as spark.read.text does
    val none = s"$root/feed/*.none"
    val want = intercept[org.apache.spark.sql.AnalysisException](spark.read.text(none))
    val got =
      intercept[org.apache.spark.sql.AnalysisException](ChillPipeline.textLines(spark, none))
    assert(got.getCondition == want.getCondition)
  }

  test("rawFixedWidth: positional slice, trim, valid-line controls") {
    val d = java.nio.file.Files.createTempDirectory("fwpm")
    // layout: id 1-4 (left-padded), name 5-12 (right-padded), qty 13-18
    java.nio.file.Files.writeString(d.resolve("FEED_20240107.dat"),
      """HEADER 2024-01-07
        |0001alpha   000042
        |0002beta    000007
        |SKIPME
        |0003gamma       99
        |TRAILER 3 RECORDS""".stripMargin)
    val df = ChillPipeline.rawFixedWidth(spark, d.toString + "/*.dat",
      Seq(ChillPipeline.FixedWidthCol("id", 1, 4),
        ChillPipeline.FixedWidthCol("name", 5, 8),
        ChillPipeline.FixedWidthCol("qty", 13, 6)),
      skipHeader = 1, skipFooter = 1, ignoreLines = Set("SKIPME"))
    val rows = df.orderBy("id").collect()
    assert(rows.map(_.getAs[String]("id")).toSeq == Seq("0001", "0002", "0003"))
    // right-padded text trims to the payload; left-padded numerics
    // keep their zeros (they are characters, not padding spaces)
    assert(rows.map(_.getAs[String]("name")).toSeq ==
      Seq("alpha", "beta", "gamma"))
    assert(rows.map(_.getAs[String]("qty")).toSeq ==
      Seq("000042", "000007", "99"))
    // trimmed=false keeps the raw slice, padding and all
    val raw = ChillPipeline.rawFixedWidth(spark, d.toString + "/*.dat",
      Seq(ChillPipeline.FixedWidthCol("name", 5, 8, trimmed = false)),
      skipHeader = 1, skipFooter = 1, ignoreLines = Set("SKIPME"))
    assert(raw.orderBy("name").collect().head.getAs[String]("name") == "alpha   ")
  }

  test("rawCsvQuoted: embedded delimiters, doubled quotes, line controls") {
    val d = java.nio.file.Files.createTempDirectory("qcsv")
    java.nio.file.Files.writeString(d.resolve("FEED.csv"),
      """#header
        |1,"alpha, beta",10
        |2,"say ""hi"", now",20
        |3,plain,30
        |#trailer""".stripMargin)
    val df = ChillPipeline.rawCsvQuoted(spark, d.toString + "/*.csv",
      Seq("id", "payload", "qty"), skipHeader = 1, skipFooter = 1,
      ignoreLines = Set.empty)
    val rows = df.orderBy("id").collect()
      .map(r => (r.getAs[String]("id"), r.getAs[String]("payload"),
        r.getAs[String]("qty")))
    assert(rows.toSeq == Seq(
      ("1", "alpha, beta", "10"),
      ("2", "say \"hi\", now", "20"),
      ("3", "plain", "30")))
  }

  test("rawJsonLines: schema-on-read, missing fields null, corrupt flagged") {
    val d = java.nio.file.Files.createTempDirectory("jsonl")
    java.nio.file.Files.writeString(d.resolve("FEED.jsonl"),
      """{"id": 1, "name": "a", "qty": 10}
        |{"id": 2, "qty": 20}
        |not json at all
        |{"id": 4, "name": "d", "qty": 40}""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("id BIGINT, name STRING, qty BIGINT")
    val df = ChillPipeline.rawJsonLines(spark, d.toString + "/*.jsonl", schema)
    val rows = df.orderBy("id").collect()
    assert(rows.length == 4)
    val corrupt = rows.filter(_.getAs[Boolean]("_corrupt"))
    assert(corrupt.length == 1)
    val byId = rows.filterNot(_.getAs[Boolean]("_corrupt"))
      .map(r => r.getAs[Long]("id") ->
        (Option(r.getAs[String]("name")), r.getAs[Long]("qty"))).toMap
    assert(byId == Map(1L -> (Some("a"), 10L), 2L -> (None, 20L),
      4L -> (Some("d"), 40L)))
  }

  test("slicing is exact when one file spans many splits") {
    // force multi-split reads so the per-split offset arithmetic is
    // exercised across chunk boundaries (at 100 TB every big file is
    // read this way)
    val d = java.nio.file.Files.createTempDirectory("rawsplit")
    val lines = (1 to 200).map(i => f"L$i%03d|$i%d")
    java.nio.file.Files.writeString(d.resolve("big.csv"), lines.mkString("\n"))
    java.nio.file.Files.writeString(d.resolve("small.csv"), "H|0\nS1|1\nS2|2\nF|0")
    withSplitSize(64) {
      val df = ChillPipeline.rawCsv(spark, d.toString + "/*.csv", "|",
        Seq("id", "n"), skipHeader = 1, skipFooter = 1, ignoreLines = Set())
      val scan = df.queryExecution.executedPlan.toString
      assert(df.rdd.getNumPartitions > 4, s"file did not split:\n$scan")
      // small.csv is whole, but one split file sends the feed down the chunk path
      assert(scan.contains("BroadcastHashJoin"), s"expected the chunk path:\n$scan")
      val got = df.select("id").collect().map(_.getString(0)).toSet
      val want = (2 to 199).map(i => f"L$i%03d").toSet ++ Set("S1", "S2")
      assert(got == want)
    }
  }

  test("filename- and tag-derived fields flow into the pipeline") {
    val raw = ChillPipeline.rawCsv(spark, rawDir + "/*.csv", "|",
      Seq("id", "cnt1", "cnt2"), skipHeader = 3, skipFooter = 1,
      ignoreLines = Set("IGNORE_ROW"))
    val tagRule = FromTag("collector", "#COLLECTOR",
      line => regexp_extract(line, "#COLLECTOR=(.*)", 1))
    val withTags = ChillPipeline.withTagColumns(spark, rawDir + "/*.csv", raw, Seq(tagRule))
    val rules: Seq[FieldRule] = Seq(
      FromFilename("node", "([A-Z_]+_[AB])_", 1),
      tagRule,
      Derived("total", col("cnt1").cast("long") + col("cnt2").cast("long")),
      Constant("source_system", lit("pm")))
    val out = FieldRule.applyAll(withTags, rules)
      .select("id", "node", "collector", "total", "source_system")
    val rows = out.collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(rows == Set(
      ("1", "NODE_A", "cell-east-1", 110L),
      ("2", "NODE_A", "cell-east-1", 220L),
      ("3", "NODE_A", "cell-east-1", 330L),
      ("7", "NODE_B", "cell-west-9", 770L),
      ("8", "NODE_B", "cell-west-9", 880L)))
  }

  test("routing splits one feed into per-table outputs") {
    val raw = ChillPipeline.rawCsv(spark, rawDir + "/*.csv", "|",
      Seq("id", "cnt1", "cnt2"), skipHeader = 3, skipFooter = 1,
      ignoreLines = Set("IGNORE_ROW"))
    val routed = ChillPipeline.run(raw, Seq(
      Derived("idn", col("id").cast("long"))), Seq(
      TableRoute("low", col("idn") < 5, Seq("id", "cnt1")),
      TableRoute("high", col("idn") >= 5, Seq("id", "cnt2"))))
    assert(routed("low").count() == 3 && routed("high").count() == 2)
    assert(routed("low").columns.toSeq == Seq("id", "cnt1"))
  }

  test("report renders junit xml with capped failures") {
    val li = Tables.lineitem(spark, sf)
    val cc = operators.Reconcile.countCompare(li, li.filter(col("l_linenumber") =!= 7), "l_orderkey")
    val report = operators.Report.merge(
      operators.Report.countSuite(cc, "l_orderkey"),
      operators.Report.missingColumnsSuite(spark, "lineitem", Seq(), Seq()))
    val xml = operators.Report.toJunitXml(report, maxFailures = 5)
    assert(xml.contains("<testsuite name=\"record_counts\""))
    assert(xml.contains("failures="))
    assert(xml.split("<testcase").length <= 12) // capped
    assert(xml.contains("missing_columns"))
  }
}
