package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Reconcile, Report}

/** The fused single-pass compare (`Report.compareData`) against the
  * per-suite composition it replaces in the library cycle, on dirty
  * inputs: the report rows must be the same multiset and the junit
  * XML byte-identical, capped failure lists included.
  */
class CompareDataSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val keyCols = Seq("day", "id")

  /** The per-suite composition: one join or aggregate per suite. */
  private def perSuite(table: String, expected: DataFrame, loaded: DataFrame,
                       counters: Seq[String], specColumns: Seq[String],
                       lookups: Seq[(String, DataFrame, Seq[(String, String)])]): DataFrame = {
    val e = expected.withColumn("_key", concat_ws("", keyCols.map(col): _*))
    val a = loaded.withColumn("_key", concat_ws("", keyCols.map(col): _*))
    val missing = Reconcile.missingKeys(e, a, "_key")
    val (missingInData, extraInData) = Reconcile.missingColumns(specColumns, loaded)
    val refSuites = lookups
      .filter(_._3.forall { case (f, _) => loaded.columns.contains(f) })
      .map { case (name, view, keys) =>
        val (fact, fk) =
          if (keys.sizeIs == 1) (loaded, keys.head._1)
          else (loaded.withColumn("_fk", concat_ws("", keys.map(k => col(k._1)): _*)), "_fk")
        val (dim, dk) =
          if (keys.sizeIs == 1) (view, keys.head._2)
          else (view.select(concat_ws("", keys.map(k => col(k._2)): _*).as("_dk")), "_dk")
        Report.referentialSuite(Reconcile.referentialSummary(fact, dim, fk, dk), table, name)
      }
    val diffSuites =
      if (counters.isEmpty) Nil
      else {
        val d = Reconcile.counterDiffs(e, a, "_key", counters)
        Seq(Report.counterDiffSuite(d, "_key"), Report.summaryRow("value_diffs", table, d))
      }
    Report.merge(Seq(
      Report.countSuite(Reconcile.countCompare(e, a, "_key"), "_key"),
      Report.missingSuite(missing, "_key"),
      Report.summaryRow("missing_records", table, missing),
      Report.missingColumnsSuite(spark, table, missingInData, extraInData)) ++
      diffSuites ++ refSuites: _*)
  }

  private def rows(report: DataFrame): Seq[String] =
    report.select("suite", "test_name", "status", "message").collect()
      .map { case Row(s, t, st, m) => s"$s|$t|$st|$m" }.toSeq.sorted

  // keys "d1"+id; id 7 only expected, id 8 only loaded, id 3 duplicated
  // 2x expected / 3x loaded; num carries rounding-boundary and one-side
  // null values, txt strings and a numeric-vs-text pair, cnt a long
  private val expected = Seq(
    ("d1", "1", "1.0004", "a", 10L, "g1", "r1", "s1"),
    ("d1", "2", "1.0004", "b", 20L, "g1", "r1", "s2"),
    ("d1", "3", "2.5", "c", 30L, "g2", "r2", "s1"),
    ("d1", "3", "2.6", "c", 31L, "g2", "r2", "s1"),
    ("d1", "4", null, "d", 40L, "gX", "r9", "s9"),
    ("d1", "5", "0.0625", null, 50L, null, "r1", "s1"),
    ("d1", "6", "1.0", "x", 60L, "g1", "r1", "s1"),
    ("d1", "7", "7.0", "g", 70L, "g1", "r1", "s1"),
    ("d2", "1", null, null, 11L, "g1", "r1", "s1"))
    .toDF("day", "id", "num", "txt", "cnt", "grp", "region", "site")
  private val loaded = Seq(
    ("d1", "1", "1.0006", "a", 10L, "g1", "r1", "s1", 0),
    ("d1", "2", "1.0001", "B", 20L, "g1", "r1", "s2", 0),
    ("d1", "3", "2.5", "c", 30L, "g2", "r2", "s1", 0),
    ("d1", "3", "2.50", "c", 32L, "g2", "r2", "s1", 0),
    ("d1", "3", "2.7", "cc", 31L, "g2", "r2", "s1", 0),
    ("d1", "4", "4.0", "d", 40L, "gX", "r9", "s9", 0),
    ("d1", "5", "0.063", null, 50L, null, "r1", "s1", 0),
    ("d1", "6", "1.0", "1.0", 60L, "g1", "r1", "s1", 0),
    ("d1", "8", "8.0", "h", 80L, "g3", "r1", "s3", 0),
    ("d2", "1", null, null, 11L, "g1", "r1", "s1", 0))
    .toDF("day", "id", "num", "txt", "cnt", "grp", "region", "site", "extra")
  private val lookups = Seq(
    ("grp", Seq("g1", "g2", "g2").toDF("g_code"), Seq("grp" -> "g_code")),
    ("region_site", Seq(("r1", "s1"), ("r1", "s2"), ("r2", "s1")).toDF("r", "s"),
      Seq("region" -> "r", "site" -> "s")),
    ("absent", Seq("z").toDF("z"), Seq("no_such_column" -> "z")))
  private val specColumns = Seq("day", "id", "num", "txt", "cnt", "grp", "region", "site", "kpi")

  test("fused compareData equals the per-suite composition on dirty inputs") {
    val counters = Seq("num", "txt", "cnt")
    val fused = Report.compareData("t", expected, loaded, keyCols, counters, specColumns, lookups)
    try {
      val reference = perSuite("t", expected, loaded, counters, specColumns, lookups)
      val got = rows(fused.report)
      assert(got == rows(reference))
      // the dirty cases are all present: both directions, duplicate-key
      // multiplicity (2 x 3 pairs), both referential legs failing
      assert(got.contains("missing_records|key d17|failed|missing_right"))
      assert(got.contains("missing_records|key d18|failed|missing_left"))
      assert(got.contains("record_counts|count for d13|failed|left=2 right=3"))
      assert(got.count(_.startsWith("value_diffs|diff for d13 cnt|")) == 4)
      assert(got.contains("referential|t fk grp|failed|facts=10 orphans=3 matched=7"))
      assert(got.contains("referential|t fk region_site|failed|facts=10 orphans=2 matched=8"))
      assert(!got.exists(_.contains("fk absent")))
      for (cap <- Seq(2, 100))
        assert(Report.toJunitXml(fused.report, cap) == Report.toJunitXml(reference, cap))
    } finally fused.keyed.unpersist()
  }

  test("fused compareData without counters or lookups") {
    val fused = Report.compareData("t", expected, loaded, keyCols, Nil, specColumns, Nil)
    try {
      val reference = perSuite("t", expected, loaded, Nil, specColumns, Nil)
      assert(rows(fused.report) == rows(reference))
      assert(Report.toJunitXml(fused.report, 2) == Report.toJunitXml(reference, 2))
    } finally fused.keyed.unpersist()
  }

  test("fused compareData takes a heavily duplicated key's diffs from the row-level join") {
    // one key with 120 expected x 150 loaded rows (18,000 pairs) next
    // to a unique key with one failing counter
    val exp = ((0 until 120).map(i => ("d1", "1", (i % 4).toString, "a")) :+ ("d1", "2", "1", "b"))
      .toDF("day", "id", "num", "txt")
    val ld = ((0 until 150).map(i => ("d1", "1", (i % 5).toString, "a")) :+ ("d1", "2", "2", "b"))
      .toDF("day", "id", "num", "txt")
    val counters = Seq("num", "txt")
    val fused = Report.compareData("t", exp, ld, keyCols, counters, Seq("day", "id", "num", "txt"), Nil)
    try {
      val got = rows(fused.report)
      assert(got == rows(perSuite("t", exp, ld, counters, Seq("day", "id", "num", "txt"), Nil)))
      val nDup = (for (i <- 0 until 120; j <- 0 until 150 if i % 4 != j % 5) yield 1).size
      assert(got.count(_.startsWith("value_diffs|diff for d11 num|")) == nDup)
      assert(got.contains(s"value_diffs|t|failed|failing_cases=${nDup + 1}"))
    } finally fused.keyed.unpersist()
  }
}
