package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

/** Test-report rendering — the Spark analogue of the reference's
  * junit XML generation (TestReport.py): reconciliation outputs fold
  * into a (suite, test_name, status, message) report table, and a
  * capped slice renders as junit XML.
  *
  * The report *table* is distributed (suites over billions of keys
  * stay DataFrames); only the XML rendering collects, and it caps
  * failures per suite the way a human-readable report must.
  */
object Report {

  /** Record-count comparison suite (TestReport.py:create_data_summary):
    * one test case per key, failed when counts differ.
    */
  def countSuite(countCompare: DataFrame, key: String): DataFrame =
    countCompare.select(countCase(col(key), col("cnt_left"), col("cnt_right"), col("is_match")): _*)

  private def countCase(key: Column, cntL: Column, cntR: Column, isMatch: Column): Seq[Column] =
    reportRow(lit("record_counts"), concat(lit("count for "), key.cast("string")),
      when(isMatch, "passed").otherwise("failed"),
      concat(lit("left="), cntL, lit(" right="), cntR))

  /** Missing-record suite (TestReport.py:create_data_missing). */
  def missingSuite(missingKeys: DataFrame, key: String): DataFrame =
    missingKeys.select(missingCase(col(key), col("direction")): _*)

  private def missingCase(key: Column, direction: Column): Seq[Column] =
    reportRow(lit("missing_records"), concat(lit("key "), key.cast("string")), lit("failed"),
      direction)

  /** The (suite, test_name, status, message) columns of a report row. */
  private def reportRow(suite: Column, testName: Column, status: Column,
                        message: Column): Seq[Column] =
    Seq(suite.as("suite"), testName.as("test_name"), status.as("status"), message.as("message"))

  /** Value-diff suite (TestReport.py:create_data_diffs). */
  def diffSuite(valueDiffs: DataFrame, key: String): DataFrame =
    valueDiffs.select(
      lit("value_diffs").as("suite"),
      concat(lit("diff for "), col(key).cast("string")).as("test_name"),
      lit("failed").as("status"),
      concat(lit("left="), col("val_left"), lit(" right="), col("val_right")).as("message"))

  /** Per-counter value-diff suite over [[Reconcile.counterDiffs]]
    * output — the counter name lands in the test name so a failing
    * case reads `diff for <key> <counter>` like the reference's
    * per-counter diff dict (HlxTools.py:918-929).
    */
  def counterDiffSuite(counterDiffs: DataFrame, key: String): DataFrame =
    counterDiffs.select(
      counterDiffCase(col(key), col("counter"), col("val_left"), col("val_right")): _*)

  private def counterDiffCase(key: Column, counter: Column, vl: Column, vr: Column): Seq[Column] =
    reportRow(lit("value_diffs"), concat(lit("diff for "), key.cast("string"), lit(" "), counter),
      lit("failed"),
      concat(lit("left="), coalesce(vl, lit("NULL")), lit(" right="), coalesce(vr, lit("NULL"))))

  /** Referential-integrity suite from a
    * [[Reconcile.referentialSummary]] one-row summary: passed iff no
    * fact key is absent from the dimension (the reference's
    * missing_in_conf check, HlxTools.py:821-856).
    */
  def referentialSuite(summary: DataFrame, table: String, ruleName: String): DataFrame =
    referentialRows(summary.withColumn("test_name", lit(s"$table fk $ruleName")))

  /** [[referentialSuite]]'s rows over (test_name, n_facts, n_orphans, n_matched). */
  private def referentialRows(summary: DataFrame): DataFrame =
    summary.select(reportRow(lit("referential"), col("test_name"),
      when(col("n_orphans") === 0L, "passed").otherwise("failed"),
      concat(lit("facts="), col("n_facts"), lit(" orphans="), col("n_orphans"),
        lit(" matched="), col("n_matched"))): _*)

  /** One aggregate pass/fail row over a failures-only suite body, so
    * a clean table still surfaces the suite in the report (a suite
    * that only emits failures would vanish when green).
    */
  def summaryRow(suiteName: String, table: String, failures: DataFrame): DataFrame =
    failures.agg(count(lit(1)).as("_n")).select(summaryOf(lit(suiteName), table, col("_n")): _*)

  /** [[summaryRow]]'s columns for a failing-case count `n`. */
  private def summaryOf(suite: Column, table: String, n: Column): Seq[Column] =
    reportRow(suite, lit(table), when(n === 0L, "passed").otherwise("failed"),
      concat(lit("failing_cases="), n))

  /** DBL loader-error suite (TestReport.py:create_db_errors): the
    * parsed loader logs ([[Maintenance.parseDblErrors]]) as one case
    * per (table, line) — ORA-/record errors fail, load statistics
    * pass, so a clean load renders as a green suite with its row
    * counts in the messages.
    */
  def dblErrorsSuite(parsedLogs: DataFrame): DataFrame =
    parsedLogs.select(
      lit("dbl_errors").as("suite"),
      concat_ws(": ", col("table_name"), col("kind")).as("test_name"),
      when(col("kind") === "stats", "passed").otherwise("failed").as("status"),
      col("detail").as("message"))

  /** Missing-column suite (TestReport.py:create_missing_cols) — from
    * the metadata-level schema compare.
    */
  def missingColumnsSuite(spark: SparkSession, table: String,
                          missingInData: Seq[String], extraInData: Seq[String]): DataFrame = {
    import spark.implicits._
    missingColumnsRows(table, missingInData, extraInData)
      .toDF("suite", "test_name", "status", "message")
  }

  /** [[missingColumnsSuite]]'s rows, on the driver. */
  private def missingColumnsRows(table: String, missingInData: Seq[String],
                                 extraInData: Seq[String]): Seq[(String, String, String, String)] =
    missingInData.map(c => ("missing_columns", s"$table.$c", "failed", "expected column absent from data")) ++
      extraInData.map(c => ("missing_columns", s"$table.$c", "failed", "data column absent from spec")) match {
      case Nil => Seq(("missing_columns", table, "passed", "all expected columns present"))
      case r   => r
    }

  /** Merge suites into one report table. */
  def merge(suites: DataFrame*): DataFrame = suites.reduce(_ unionByName _)

  /** One table's whole compare_data suite set (HlxTools.py:785-936)
    * from ONE keyed pass — the fused form of composing
    * [[countSuite]]/[[missingSuite]]/[[counterDiffSuite]]/
    * [[summaryRow]] over [[Reconcile.countCompare]]/
    * [[Reconcile.missingKeys]]/[[Reconcile.counterDiffs]], which
    * joins and aggregates both sides once per suite.
    *
    * Both sides key on `concat_ws("", keyCols)` as `_key` and meet in
    * a single [[Reconcile.keyedCompare]] aggregate, persisted
    * (MEMORY_AND_DISK) and materialized here by the first of two
    * eager actions, the one that counts its keys, count mismatches,
    * missing keys, failing cells and duplicated keys: the per-key
    * count cases, the missing-both-ways cases, the per-counter value
    * diffs (`counters`, numeric-else-string at 3 decimals) and both
    * summary rows all read that one frame. A key with more than one
    * row on a side gets its value diffs from [[Reconcile.counterDiffs]]'
    * row-level join over the duplicated keys only (the inner join's
    * multiplicity, spilling like any join); that join is planned, and
    * counted, only when such keys exist. The referential legs — every
    * `(name, dimension, (fact column, dimension column) keys)` lookup
    * whose fact columns `loaded` carries — share one
    * [[Reconcile.referentialFlags]] aggregate over `loaded`, collected
    * by the second action; its report rows are a local frame, so
    * reading the report never runs it again. The missing-column suite
    * compares `specColumns` with `loaded`'s schema (no job).
    *
    * Returns the report rows, the persisted keyed frame and each
    * suite's totals, which [[renderJunitXml]] renders without reading
    * the report again. Unpersist `keyed` once the report has been
    * rendered; if an action here fails, `keyed` is unpersisted before
    * the error propagates.
    */
  def compareData(table: String, expected: DataFrame, loaded: DataFrame,
                  keyCols: Seq[String], counters: Seq[String], specColumns: Seq[String],
                  lookups: Seq[(String, DataFrame, Seq[(String, String)])]): Compared = {
    val spark = loaded.sparkSession
    import spark.implicits._
    val keyExpr = concat_ws("", keyCols.map(col): _*)
    val (exp, ld) = (expected.withColumn("_key", keyExpr), loaded.withColumn("_key", keyExpr))
    val keyed = Reconcile.keyedCompare(exp, ld, "_key", counters, 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (cntL, cntR) = (col("cnt_left"), col("cnt_right"))
    val key = col("_key")
    val isMissing = cntL === 0L || cntR === 0L
    val isDuplicated = cntL > 0L && cntR > 0L && (cntL > 1L || cntR > 1L)
    val hasDiffs = counters.nonEmpty
    // every per-key case — its count case, a missing case when one
    // side has no rows, its failing counter cells — out of ONE read of
    // the keyed frame (a filtered one-element array keeps the element
    // type an empty literal array would lose)
    val missingCases = filter(array(struct(missingCase(key,
      when(cntR === 0L, "missing_right").otherwise("missing_left")): _*)), _ => isMissing)
    val diffCases = Option.when(hasDiffs)(transform(
      col("diffs"), d => struct(counterDiffCase(key,
        d.getField("counter"), d.getField("val_left"), d.getField("val_right")): _*)))
    val perKey = keyed
      .select(explode(concat(Seq(array(struct(countCase(key, cntL, cntR, cntL === cntR): _*)),
        missingCases) ++ diffCases: _*)).as("_c"))
      .select("_c.*")
    val (missingInData, extraInData) = Reconcile.missingColumns(specColumns, loaded)
    val missingColumns = missingColumnsRows(table, missingInData, extraInData)
    val legs = lookups.filter(_._3.forall { case (f, _) => loaded.columns.contains(f) })
    try {
      val stats = keyed.agg(count(lit(1)), count(when(cntL =!= cntR, 1)), count(when(isMissing, 1)),
        if (hasDiffs) coalesce(sum(size(col("diffs"))), lit(0L)) else lit(0L),
        if (hasDiffs) count(when(isDuplicated, 1)) else lit(0L)).head()
      val Seq(nKeys, nCountFailures, nMissing, nSingleDiffs, nDuplicated) =
        (0 until 5).map(stats.getLong)
      val duplicatedDiffs = Option.when(nDuplicated > 0) {
        val dupKeys = keyed.filter(isDuplicated).select(key)
        Reconcile.counterDiffs(exp.join(dupKeys, Seq("_key"), "left_semi"),
          ld.join(dupKeys, Seq("_key"), "left_semi"), "_key", counters)
      }
      val nDiffs = nSingleDiffs + duplicatedDiffs.fold(0L)(_.count())
      val summaryCounts = ("missing_records", nMissing) +:
        Option.when(hasDiffs)(("value_diffs", nDiffs)).toSeq
      // (test_name, n_facts, n_orphans, n_matched) per leg
      val referential = Option.when(legs.nonEmpty) {
        val flags = Reconcile.referentialFlags(loaded,
          legs.map { case (_, dim, keys) => (keys.map(_._1), dim, keys.map(_._2)) }).head()
        legs.zipWithIndex.map { case ((name, _, _), i) =>
          val (nFacts, nMatched) = (flags.getLong(0), flags.getLong(i + 1))
          (s"$table fk $name", nFacts, nFacts - nMatched, nMatched)
        }
      }
      val report = merge(Seq(perKey,
        summaryCounts.toDF("suite", "n").select(summaryOf(col("suite"), table, col("n")): _*),
        missingColumns.toDF("suite", "test_name", "status", "message")) ++
        duplicatedDiffs.map(counterDiffSuite(_, "_key")) ++
        referential.map(r => referentialRows(r.toDF("test_name", "n_facts", "n_orphans", "n_matched"))): _*)
      val totals = Seq(SuiteTotal("record_counts", nKeys, nCountFailures)) ++
        summaryCounts.map { case (suite, n) => SuiteTotal(suite, n + 1, if (n > 0) n + 1 else 0) } ++
        Seq(SuiteTotal("missing_columns", missingColumns.size, missingColumns.count(_._3 == "failed"))) ++
        referential.map(r => SuiteTotal("referential", r.size, r.count(_._3 > 0)))
      Compared(report, keyed, totals)
    } catch { case NonFatal(e) => keyed.unpersist(); throw e }
  }

  /** [[compareData]]'s report rows, the persisted keyed frame they
    * derive from, and each suite's case totals over those rows.
    */
  final case class Compared(report: DataFrame, keyed: DataFrame, totals: Seq[SuiteTotal])

  /** One suite's totals in a report: `tests` cases, `failures` of them failed. */
  final case class SuiteTotal(suite: String, tests: Long, failures: Long)

  /** Render a junit-style XML string from the report table, keeping at
    * most `maxFailures` failed cases per suite (plus pass/fail
    * totals), ordered by test name then message. ONE collect: the
    * per-suite `groupBy` totals union the capped [[failureSlice]] (no
    * window runs over passing cases), and the collected rows render
    * suite by suite in name order, so the XML is byte-identical run
    * to run.
    */
  def toJunitXml(report: DataFrame, maxFailures: Int = 100): String = {
    val totals = report.groupBy("suite").agg(
      count(lit(1)).as("tests"),
      sum(when(col("status") === "failed", 1L).otherwise(0L)).as("failures"))
      .withColumn("rn", lit(0))
    // (suite, rn, test_name, message, tests, failures); rn 0 = totals
    val rows = failureSlice(report, maxFailures)
      .unionByName(totals, allowMissingColumns = true).collect()
    val (totalRows, failureRows) = rows.partition(_.getInt(1) == 0)
    render(totalRows.map(r => SuiteTotal(r.getString(0), r.getLong(4), r.getLong(5))).toSeq,
      failureRows.toSeq)
  }

  /** [[toJunitXml]]'s XML from per-suite totals the caller already
    * holds, such as [[Compared.totals]] (those of several tables add
    * up per suite): `report` is read only when some total has
    * failures, by ONE collect of its capped [[failureSlice]]. A clean
    * report renders without a Spark job. For totals that match
    * `report`, the XML is byte-identical to `toJunitXml(report,
    * maxFailures)`.
    */
  def renderJunitXml(totals: Seq[SuiteTotal], report: DataFrame, maxFailures: Int = 100): String = {
    val summed = totals.groupMapReduce(_.suite)(identity) { (a, b) =>
      SuiteTotal(a.suite, a.tests + b.tests, a.failures + b.failures)
    }.values.toSeq
    val failures =
      if (summed.exists(_.failures > 0)) failureSlice(report, maxFailures).collect().toSeq
      else Nil
    render(summed, failures)
  }

  /** The failed cases of `report`, at most `maxFailures` per suite,
    * numbered from 1 per suite by test name then message: (suite, rn,
    * test_name, message).
    */
  private def failureSlice(report: DataFrame, maxFailures: Int): DataFrame =
    report.filter(col("status") === "failed")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("suite")
          .orderBy(col("test_name"), col("message"))))
      .filter(col("rn") <= maxFailures)
      .select(col("suite"), col("rn"), col("test_name"), col("message"))

  /** The XML of per-suite totals and rows led by [[failureSlice]]'s
    * columns: one element per suite with cases, in name order, its
    * failures in `rn` order.
    */
  private def render(totals: Seq[SuiteTotal], failures: Seq[Row]): String = {
    val failuresOf = failures.groupBy(_.getString(0))
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")
    val sb = new StringBuilder("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<testsuites>\n")
    totals.filter(_.tests > 0).sortBy(_.suite).foreach { t =>
      sb.append(s"""  <testsuite name="${esc(t.suite)}" tests="${t.tests}" failures="${t.failures}">\n""")
      failuresOf.getOrElse(t.suite, Nil).sortBy(_.getInt(1)).foreach { f =>
        sb.append(s"""    <testcase name="${esc(f.getString(2))}"><failure message="${esc(f.getString(3))}"/></testcase>\n""")
      }
      sb.append("  </testsuite>\n")
    }
    sb.append("</testsuites>\n").toString
  }
}
