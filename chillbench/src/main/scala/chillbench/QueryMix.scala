package chillbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One client looping over a fixed list of Chill-inventory queries
  * from `graft.SparkEntry.queries`, each forced by an order-insensitive
  * (row count, content hash) aggregate over all of its columns.
  */
final class QueryMix(ctx: Ctx) extends Workload {
  import ctx.spark

  val Names: Seq[String] = Seq("q_recon_counts", "q_recon_missing", "q_recon_diffs",
    "q_recon_diffs_multi", "q_recon_referential", "q_string_diffs", "q_missing_columns",
    "q_junit_report", "q_rollup_audit", "q_rollup_hourly", "q_cfg_extract", "q_thinout",
    "q_retention_sweep", "q_cdc_apply", "q_kpi_percentiles", "q_config_run", "q_fixed_width",
    "q_jsonl", "q_lookup_enrich", "q_duplicate_keys")
  val Orders = 3000L
  val Events = 3000L

  private val dir = s"${ctx.work}/tables"
  def warehouse: String = dir
  private var tableBytes = 0L
  private var rows = 0L
  /** (rows, hash) of each query's first run */
  private val firstRun = scala.collection.mutable.Map.empty[String, (Long, Long)]
  private val lastRun = scala.collection.mutable.Map.empty[String, (Long, Long)]

  def setup(): Unit = {
    val in = new Inputs(spark, ctx.seed)
    val tables = in.star(Orders) + ("events" -> in.events(Events, 31))
    in.writeTables(dir, tables)
    graft.Tables.validate(spark, dir)
    rows = tables.keys.toSeq.map(t => graft.Tables.rowCount(spark, dir, t)).sum
    tableBytes = Workload.dataFiles(dir)._2
  }

  def inputBytes: Long = tableBytes

  /** A column whose hash is stable across runs: doubles are rounded, so
    * the summation order of a distributed aggregate cannot move it.
    */
  private def stable(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column =
    t match {
      case DoubleType | FloatType => round(c.cast("double"), 6)
      case _: ArrayType | _: MapType | _: StructType => to_json(c)
      case _ => c
    }

  private def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map(f => stable(col(s"`${f.name}`"), f.dataType))
    val r = df.agg(count(lit(1)), coalesce(sum(xxhash64(cols: _*).bitwiseAND(lit(0xffffffffL))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  def op(i: Int): OpOut = {
    val span = ctx.spans
    val lat = Names.map { name =>
      val t0 = System.nanoTime()
      val fp = span("query") {
        val b0 = System.nanoTime()
        val df = graft.SparkEntry.queries(name)(spark, dir)
        ctx.spans.tracer.foreach(_.addBuildMs("query", (System.nanoTime() - b0) / 1e6))
        fingerprint(df)
      }
      lastRun(name) = fp
      if (i == 0) firstRun(name) = fp
      name -> (System.nanoTime() - t0) / 1e6
    }
    OpOut(rows, lat)
  }

  def check(): Unit = {
    val bad = Names.filter(n => lastRun.get(n) != firstRun.get(n))
    require(bad.isEmpty, "results differ from the first run: " +
      bad.map(n => s"$n ${lastRun.get(n)} vs ${firstRun.get(n)}").mkString("; "))
    require(Names.forall(n => firstRun(n)._1 > 0), "a query returned no rows: " +
      Names.filter(n => firstRun(n)._1 == 0).mkString(","))
  }

  /** Rewrite one table with a row dropped. */
  def corrupt(): Unit = {
    val o = spark.read.parquet(s"$dir/orders.parquet").filter(col("o_orderkey") =!= 7L)
      .localCheckpoint()
    o.coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }

  def describe: Map[String, Any] = Map("queries" -> Names.size, "rows" -> rows,
    "input_digest" -> Integer.toHexString(Names.map(firstRun.get).hashCode),
    "table_bytes" -> tableBytes, "orders" -> Orders, "events" -> Events)
}
