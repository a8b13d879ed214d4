package chillbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.etl._
import graft.operators.Rollups
import graft.streaming.EventStream

/** A many-file `LibraryRun.stream` ingest, then delivery passes that
  * re-deliver a seeded subset of (node, day) files with changed
  * values. Each pass must replace exactly those partitions, and the
  * five-minute rollup is kept current through `rollupBatch`,
  * `compactRollup` and `readRollup`. The first pass, which delivers
  * every file, is the warm-up operation.
  *
  * Rollup deltas: days before the last [[OpenDays]] are closed, rolled
  * up as batch 0 in the first pass and compacted; each open day is its
  * own delta batch, recomputed from the warehouse on every pass.
  */
final class Redelivery(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._

  val Nodes = 8
  val Days = 6
  val Rows = 9600L
  val OpenDays = 2
  /** files re-delivered per open day per pass */
  val PerDay = 3

  private val raw = s"${ctx.work}/raw"
  val warehouse = s"${ctx.work}/wh"
  private val table = s"$warehouse/events_t"
  private val rollup = s"$warehouse/rollup"
  private val checkpoint = s"${ctx.work}/checkpoint"
  private val in = new Inputs(spark, ctx.seed)
  private val days = (0 until Days).map(d =>
    java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString.replace("-", ""))
  private val openDays = days.takeRight(OpenDays)

  /** current version of each re-delivered (node, day) file */
  private var versions = Map.empty[(Int, String), Int]
  /** raw bytes of the current version of each file */
  private var fileBytes = Map.empty[String, Long]
  private var redelivered = Set.empty[String]
  private var before = Map.empty[String, Set[String]]
  private var rollupRows: Seq[String] = Nil
  private var passRows = 0L
  private var firstDigest = ""

  private val cfg = LibraryConfig(
    rawPath = s"$raw/*/*.csv",
    delimiter = "|",
    rawColumns = Seq("event_id", "ts", "event_type", "cents"),
    skipHeader = 1, skipFooter = 1, ignoreLines = Set.empty,
    rules = Seq(
      FromFilename("node_id", "NODE(\\d+)_", 1),
      FromFilename("file_day", "_(\\d{8})\\.csv", 1),
      Derived("file_key", concat(col("node_id"), lit("_"), col("file_day"))),
      Derived("event_id", col("event_id").cast("long")),
      Derived("ts", to_timestamp(col("ts"))),
      Derived("cents_n", col("cents").cast("long")),
      Derived("value", col("cents_n") / 100.0)),
    tagRules = Nil,
    routes = Seq(TableRoute("events_t", col("cents_n").isNotNull,
      Seq("file_key", "file_day", "node_id", "event_id", "ts", "event_type", "cents_n", "value"))),
    partitionCol = "file_key",
    warehouseDir = warehouse)

  /** The feed as it should now be: every file at its current version.
    * Events are dealt round-robin to (node, day), so every file holds
    * the same number of rows whatever the seed.
    */
  private def feed(): DataFrame = {
    val v = versions.toSeq.map { case ((n, d), ver) => (n, d, ver) }.toDF("node", "fday", "ver")
    val id = col("event_id")
    in.events(Rows, Days)
      .withColumn("ts", (unix_timestamp(lit(in.FeedStart)) +
        pmod(floor(id / Nodes), lit(Days)).cast("long") * 86400L + in.draw(id, 91, 86400L))
        .cast("timestamp"))
      .select(pmod(id, lit(Nodes)).cast("int").as("node"),
        date_format(col("ts"), "yyyyMMdd").as("fday"), id, col("ts"),
        col("event_type"), col("value"))
      .join(broadcast(v), Seq("node", "fday"), "left")
      .withColumn("cents", when(col("ver").isNull, floor(col("value") * 100.0 + 0.5))
        .otherwise(pmod(xxhash64(lit(ctx.seed), col("event_id"), col("ver")), lit(100000L)))
        .cast("long"))
  }

  /** Write delivery `k` holding the files of `keys`. */
  private def deliver(k: Int, keys: Seq[(Int, String)]): Unit = {
    val wanted = feed().join(broadcast(keys.toDF("node", "fday")), Seq("node", "fday"))
    RawFiles.write(spark, wanted.groupBy(col("node"), col("fday"))
      .agg(RawFiles.body(concat_ws("|", col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"), col("event_type"), col("cents")),
        col("event_id")).as("body"))
      .select(
        concat(lit(f"$raw/d$k%04d/NODE"), col("node"), lit("_"), col("fday"), lit(".csv"))
          .as("path"),
        concat(lit("HDR|gen|1\n"), col("body"), lit("\nEOF|x|0")).as("content")))
    val dir = new java.io.File(f"$raw/d$k%04d")
    dir.listFiles().foreach { file =>
      val m = "NODE(\\d+)_(\\d{8})".r.findFirstMatchIn(file.getName).get
      fileBytes += s"${m.group(1)}_${m.group(2)}" -> file.length()
    }
  }

  private def ingest(): Unit = {
    val q = LibraryRun.stream(spark, cfg)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .start()
    q.awaitTermination()
  }

  private def rollupOpenDay(j: Int): Unit =
    EventStream.rollupBatch(spark.read.parquet(table).filter(col("file_day") === openDays(j))
      .select("ts", "event_type", "value"), j + 1L, rollup)

  def setup(): Unit = ()

  def inputBytes: Long = fileBytes.values.sum

  private def partitions(): Map[String, Set[String]] =
    Option(new java.io.File(table).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("file_key=")).map { d =>
      d.getName.stripPrefix("file_key=") ->
        d.listFiles().map(_.getName).filter(n => n.endsWith(".parquet")).toSet
    }.toMap

  /** Write the files of pass `i`: every file first, then a seeded
    * subset of each open day's files with new values.
    */
  override def prepare(i: Int): Unit = {
    val keys =
      if (i == 0) for (d <- days; n <- 0 until Nodes) yield n -> d
      else {
        val rng = new scala.util.Random(ctx.seed * 1000003L + i)
        val picked = openDays.flatMap(d => rng.shuffle((0 until Nodes).toList).take(PerDay).map(_ -> d))
        picked.foreach(k => versions += k -> (versions.getOrElse(k, 0) + 1))
        picked
      }
    deliver(i, keys)
    if (i == 0) firstDigest = Workload.digest(f"$raw/d0000")
    redelivered = keys.map { case (n, d) => s"${n}_$d" }.toSet
    passRows = keys.size * Rows / (Nodes * Days)
    before = partitions()
  }

  def op(i: Int): OpOut = {
    ctx.spans("stream")(ingest())
    ctx.spans("rollup") {
      if (i == 0) EventStream.rollupBatch(spark.read.parquet(table)
        .filter(!col("file_day").isin(openDays: _*)).select("ts", "event_type", "value"), 0L, rollup)
      openDays.indices.foreach(rollupOpenDay)
      EventStream.compactRollup(spark, rollup, 0L)
      rollupRows = Workload.sortedRows(EventStream.readRollup(spark, rollup))
    }
    OpOut(passRows, Nil)
  }

  def check(): Unit = {
    val after = partitions()
    val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
    require(changed == redelivered, s"partitions replaced: ${changed.toSeq.sorted.mkString(",")}; " +
      s"re-delivered: ${redelivered.toSeq.sorted.mkString(",")}")
    val f = feed()
    Workload.requireSame("stream read-back",
      Workload.sortedRows(spark.read.parquet(table).groupBy(col("file_key"))
        .agg(count(lit(1)), sum(col("cents_n")), sum(col("event_id")))),
      Workload.sortedRows(f.groupBy(concat(col("node"), lit("_"), col("fday")))
        .agg(count(lit(1)), sum(col("cents")), sum(col("event_id")))))
    Workload.requireSame("readRollup", rollupRows,
      Workload.sortedRows(Rollups.fiveMinute(f.select(col("ts"), col("event_type"),
        (col("cents") / 100.0).as("value")))))
  }

  def corrupt(): Unit = {
    val part = new java.io.File(table).listFiles().filter(_.getName.contains("=")).minBy(_.getName)
    org.apache.commons.io.FileUtils.deleteDirectory(part)
  }

  def describe: Map[String, Any] = Map("files" -> Nodes * Days, "rows" -> Rows,
    "open_days" -> OpenDays, "files_per_pass" -> PerDay * OpenDays, "raw_bytes" -> inputBytes,
    "input_digest" -> firstDigest)
}
