package chillbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared state of one benchmark process. */
final case class Ctx(spark: SparkSession, seed: Long, work: String, spans: Spans)

/** What one timed operation did: the input rows it processed, and the
  * latency of each named query inside it (none when the operation is a
  * single call).
  */
final case class OpOut(rows: Long, queryMs: Seq[(String, Double)])

/** One workload: inputs made in `setup`, then operations that are
  * timed one at a time and checked after each.
  */
trait Workload {
  /** Generate inputs and whatever the checks compare against. */
  def setup(): Unit
  /** Untimed preparation of operation `i` (a delivery arriving). */
  def prepare(i: Int): Unit = ()
  /** Run operation `i`; 0 is the untimed warm-up. */
  def op(i: Int): OpOut
  /** Throw if the outputs of the last operation are wrong. */
  def check(): Unit
  /** Alter the warehouse after an operation (the failure self-test). */
  def corrupt(): Unit
  /** Directory whose data files `warehouse_files` and `write_amp` count. */
  def warehouse: String
  /** Bytes of input the warehouse currently holds. */
  def inputBytes: Long
  /** Input sizes and settings recorded with the run. */
  def describe: Map[String, Any]
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "cycle_many_files" => new ManyFiles(ctx)
    case "stream_redelivery" => new Redelivery(ctx)
    case "query_mix" => new QueryMix(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** (count, bytes) of the data files under `dir`, skipping the paths
    * Spark's file sources skip (`.x`, and `_x` unless a partition dir).
    */
  def dataFiles(dir: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        val files = s.filter(p => java.nio.file.Files.isRegularFile(p)).toArray
          .map(_.asInstanceOf[java.nio.file.Path])
          .filter(p => root.relativize(p).toString.split('/').forall(n =>
            !n.startsWith(".") && !(n.startsWith("_") && !n.contains("="))))
        (files.length.toLong, files.map(p => java.nio.file.Files.size(p)).sum)
      } finally s.close()
    }
  }

  /** SHA-256 prefix over the names and contents of the files under `dir`. */
  def digest(dir: String): String = {
    val root = java.nio.file.Paths.get(dir)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val s = java.nio.file.Files.walk(root)
    try s.filter(p => java.nio.file.Files.isRegularFile(p)).toArray
      .map(_.asInstanceOf[java.nio.file.Path]).sortBy(_.toString).foreach { p =>
        md.update(root.relativize(p).toString.getBytes("UTF-8"))
        md.update(java.nio.file.Files.readAllBytes(p))
      }
    finally s.close()
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Collected rows, sorted by their string form, for set comparison. */
  def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  def requireSame(what: String, got: Seq[String], want: Seq[String]): Unit =
    if (got != want) {
      val extra = got.diff(want).take(3)
      val missing = want.diff(got).take(3)
      throw new IllegalStateException(
        s"$what differs: ${got.size} rows vs ${want.size} expected; " +
          s"unexpected ${extra.mkString(" ")}; missing ${missing.mkString(" ")}")
    }
}
