package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming specs: the windowed agg and in-watermark dedup
  * driven from the events parquet as a file stream into memory sinks.
  */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  /** File stream sources need a directory; stage the single events
    * parquet file into one.
    */
  lazy val streamDir: String = {
    val d = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("streaming windowed agg matches batch aggregation") {
    val dir = streamDir
    val stream = streaming.EventStream.readEventStream(spark, dir)
    val q = streaming.EventStream.windowedAgg(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_agg").start()
    try {
      q.processAllAvailable()
      val got = spark.table("win_agg")
      val batch = streaming.EventStream.windowedAgg(Tables.events(spark, sf))
      // batch DataFrame of a streaming-shaped agg: run the same expr directly
      val expected = Tables.events(spark, sf)
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      assert(got.count() == expected.count())
      assert(got.agg(sum("n_events")).collect().head.getLong(0) ==
        expected.agg(sum("n_events")).collect().head.getLong(0))
    } finally q.stop()
  }

  test("mapGroupsWithState running totals match batch aggregation") {
    import org.apache.spark.sql.functions._
    val stream = streaming.EventStream.readEventStream(spark, streamDir)
    val q = streaming.EventStream.runningUserTotals(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName("user_totals").start()
    try {
      q.processAllAvailable()
      // last update per user == batch totals
      val got = spark.table("user_totals")
        .groupBy("user_id").agg(max(col("n_events")).as("n_events"))
      val expected = Tables.events(spark, sf)
        .groupBy("user_id").agg(count(lit(1)).as("n_events"))
      assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch join") {
    val stream = streaming.EventStream.readEventStream(spark, streamDir)
    val joined = streaming.EventStream.streamIntervalJoin(
      stream.filter(col("event_type") === "click"),
      stream.filter(col("event_type") === "purchase"))
    assert(joined.isStreaming, "two watermarked branches must stay a streaming plan")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("attrib_join").start()
    try {
      q.processAllAvailable()
      val got = spark.table("attrib_join")
      val ev = Tables.events(spark, sf)
      val expected = streaming.EventStream.streamIntervalJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"))
      assert(got.count() > 0)
      assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
        "streamed interval join diverges from the batch join")
    } finally q.stop()
  }

  test("streaming rollup maintenance fills the warehouse like a batch rollup") {
    val wh = java.nio.file.Files.createTempDirectory("rollup_wh").toString + "/t5m"
    val stream = streaming.EventStream.readEventStream(spark, streamDir)
    val q = streaming.EventStream.rollupMaintenance(stream, wh).start()
    try q.processAllAvailable() finally q.stop()
    val fromStream = streaming.EventStream.readRollup(spark, wh)
    val fromBatch = operators.Rollups.fiveMinute(Tables.events(spark, sf))
    assert(fromStream.exceptAll(fromBatch).isEmpty && fromBatch.exceptAll(fromStream).isEmpty)
  }

  test("rollup maintenance keeps counts when a bucket spans two micro-batches") {
    // two files → two micro-batches (maxFilesPerTrigger=1); the halves
    // interleave by event_id so every 5-minute bucket spans BOTH
    // batches — a whole-bucket overwrite would halve the counts
    val dir = java.nio.file.Files.createTempDirectory("events_2files").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = Tables.eventsRaw(spark, sf)
    raw.filter(pmod(col("event_id"), lit(2)) === 0).coalesce(1).write.mode("append").parquet(dir)
    raw.filter(pmod(col("event_id"), lit(2)) === 1).coalesce(1).write.mode("append").parquet(dir)
    val wh = java.nio.file.Files.createTempDirectory("rollup_wh2").toString + "/t5m"
    val stream = streaming.EventStream.normalize(
      spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1").parquet(dir))
    val q = streaming.EventStream.rollupMaintenance(stream, wh).start()
    try q.processAllAvailable() finally q.stop()
    // more than one batch actually ran
    assert(spark.read.parquet(wh).select("_batch_id").distinct().count() > 1)
    val fromStream = streaming.EventStream.readRollup(spark, wh)
    val fromBatch = operators.Rollups.fiveMinute(Tables.events(spark, sf))
    assert(fromStream.exceptAll(fromBatch).isEmpty && fromBatch.exceptAll(fromStream).isEmpty)
  }

  test("soak replay composition: N staged files -> N micro-batches, " +
    "mid-stream compaction preserves the terminal rollup") {
    // the StreamSoak harness's core mechanism at fixture scale: the
    // reader's maxFilesPerTrigger cap turns a staged N-file feed into
    // N micro-batches, and compactRollup interleaved INSIDE the same
    // foreachBatch (batches are serialized, so it never races a delta
    // write) leaves the reader view equal to the one-shot batch rollup
    val dir = java.nio.file.Files.createTempDirectory("events_soak").toString
    val nFiles = 5
    Tables.events(spark, sf)
      .repartitionByRange(nFiles, col("ts"), col("event_id"))
      .write.mode("overwrite").parquet(dir)
    val wh = java.nio.file.Files.createTempDirectory("wh_soak").toString + "/t5m"
    // foreachBatch runs on the stream-execution thread and is
    // at-least-once: a concurrent distinct-id set is both the visible
    // and the replay-proof way to count micro-batches
    val batchIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val q = streaming.EventStream.readEventStream(spark, dir, Some(1))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        streaming.EventStream.rollupBatch(batch, batchId, wh)
        if (batchId == 2)
          streaming.EventStream.compactRollup(spark, wh, maxBatchId = batchId - 1)
        batchIds.add(batchId)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(batchIds.size == nFiles,
      s"expected $nFiles micro-batches, got ${batchIds.size}")
    val fromStream = streaming.EventStream.readRollup(spark, wh)
    val fromBatch = operators.Rollups.fiveMinute(Tables.events(spark, sf))
    assert(fromStream.exceptAll(fromBatch).isEmpty &&
      fromBatch.exceptAll(fromStream).isEmpty,
      "mid-stream compaction changed the terminal rollup")
  }

  test("delta compaction folds batches, preserves reads, and is re-runnable") {
    val dir = java.nio.file.Files.createTempDirectory("events_compact").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(dir, "events.parquet"))
    val wh = java.nio.file.Files.createTempDirectory("wh_compact").toString + "/rollup"
    val stream = Tables.normalizeEventTs(
      spark.readStream.schema(Tables.eventsRaw(spark, sf).schema)
        .option("maxFilesPerTrigger", "1").parquet(dir))
    val q = streaming.EventStream.rollupMaintenance(stream, wh).start()
    try q.processAllAvailable() finally q.stop()
    val before = streaming.EventStream.readRollup(spark, wh)
    val beforeRows = before.collect().toSet
    streaming.EventStream.compactRollup(spark, wh)
    val batchIds = spark.read.parquet(wh)
      .select(col("_batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(batchIds == Set(streaming.EventStream.CompactedBatchId),
      s"stale delta partitions survived compaction: $batchIds")
    assert(streaming.EventStream.readRollup(spark, wh).collect().toSet == beforeRows)
    // replay-safe: compacting a compacted warehouse changes nothing
    streaming.EventStream.compactRollup(spark, wh)
    assert(streaming.EventStream.readRollup(spark, wh).collect().toSet == beforeRows)
  }

  test("replaying an already-folded batch never double-counts (the " +
    "foreachBatch at-least-once crash scenario)") {
    // the r10 composition defect: batch B's deltas get folded +
    // deleted by an interleaved compaction, the query crashes before
    // B's checkpoint commit, B replays, rollupBatch re-creates the
    // deltas compaction already owns -> readRollup double-counts B.
    // The fix is two-layer: the soak passes maxBatchId = B-1 so B is
    // never folded while uncommitted, AND rollupBatch itself skips
    // any batch at or below the fold frontier. This test exercises
    // the second layer with a fold-everything compaction.
    val wh = java.nio.file.Files.createTempDirectory("wh_replay").toString + "/t5m"
    val ev = Tables.events(spark, sf)
    val half0 = ev.filter(pmod(col("event_id"), lit(2)) === 0)
    val half1 = ev.filter(pmod(col("event_id"), lit(2)) === 1)
    streaming.EventStream.rollupBatch(half0, 0L, wh)
    streaming.EventStream.rollupBatch(half1, 1L, wh)
    val oracle = operators.Rollups.fiveMinute(ev).collect().toSet
    streaming.EventStream.compactRollup(spark, wh) // folds batches 0 and 1
    assert(streaming.EventStream.compactedThrough(spark, wh).contains(1L))
    // crash-replay of batch 1: must be a no-op, not a re-created delta
    streaming.EventStream.rollupBatch(half1, 1L, wh)
    assert(streaming.EventStream.readRollup(spark, wh).collect().toSet == oracle,
      "replay of a folded batch changed the reader view")
    // replay of an UNFOLDED batch stays idempotent the original way
    streaming.EventStream.rollupBatch(half1, 2L, wh)
    streaming.EventStream.rollupBatch(half1, 2L, wh)
    val withExtra = operators.Rollups.fiveMinute(
      ev.unionByName(half1)).collect().toSet
    assert(streaming.EventStream.readRollup(spark, wh).collect().toSet == withExtra,
      "replay of an unfolded batch is not idempotent")
  }

  test("ordered replay: range-staged mtime-stamped files drive the " +
    "counter-delta machine to exact batch equality") {
    // the StreamSoak legs 4-6 mechanism at fixture scale: files
    // staged as ascending (ts, event_id) range slices with strictly
    // ascending mtimes replay oldest-first under maxFilesPerTrigger=1,
    // so the sequential state machine sees the feed in event-time
    // order across batch boundaries and its terminal table equals the
    // one-pass batch run exactly
    val dir = java.nio.file.Files.createTempDirectory("events_ordered").toString
    val nFiles = 6
    val ev = Tables.events(spark, sf)
    ev.repartitionByRange(nFiles, col("ts"), col("event_id"))
      .write.mode("overwrite").parquet(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length == nFiles)
    val base = System.currentTimeMillis() - (parts.length + 60).toLong * 1000L
    parts.zipWithIndex.foreach { case (f, i) =>
      assert(f.setLastModified(base + i * 1000L))
    }
    def readings(df: org.apache.spark.sql.DataFrame) = df.select(
      col("event_type"), col("user_id"), col("ts"), col("event_id"),
      floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
    val outParq = java.nio.file.Files.createTempDirectory("deltas_ordered").toString + "/out"
    val batchIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val q = streaming.EventStream.counterDeltaStream(
        readings(streaming.EventStream.readEventStream(spark, dir, Some(1))))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        batch.write.mode("append").parquet(outParq)
        batchIds.add(batchId)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(batchIds.size == nFiles, s"expected $nFiles batches, got ${batchIds.size}")
    val cols = Seq("event_type", "user_id", "ts", "cents", "delta_cents", "is_reset")
    val got = spark.read.parquet(outParq).select(cols.map(col): _*)
    val exp = streaming.EventStream.counterDeltaStream(readings(ev))
      .select(cols.map(col): _*)
    assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty,
      "ordered streamed deltas diverge from the one-pass batch run")
  }

  test("a crash-leftover folded delta dir is invisible to readers and " +
    "swept by the next compaction") {
    // simulate the one window the two-phase protocol leaves: the
    // stage committed and applied, but the consumed delta dirs were
    // not all deleted before a crash. Readers must exclude them via
    // the fold frontier; the next compactRollup must sweep them
    // without re-merging their counts.
    val wh = java.nio.file.Files.createTempDirectory("wh_leftover").toString + "/t5m"
    val ev = Tables.events(spark, sf)
    streaming.EventStream.rollupBatch(ev, 0L, wh)
    streaming.EventStream.compactRollup(spark, wh)
    val oracle = operators.Rollups.fiveMinute(ev).collect().toSet
    assert(streaming.EventStream.readRollup(spark, wh).collect().toSet == oracle)
    // hand-plant a consumed-and-not-deleted delta dir for batch 0
    operators.Rollups.fiveMinute(ev)
      .withColumn("_day", floor(col("bucket_start") / 86400L))
      .withColumn("_batch_id", lit(0L))
      .write.mode("append").partitionBy("_day", "_batch_id").parquet(wh)
    assert(streaming.EventStream.readRollup(spark, wh).collect().toSet == oracle,
      "a folded leftover delta leaked into the reader view")
    streaming.EventStream.compactRollup(spark, wh)
    assert(streaming.EventStream.readRollup(spark, wh).collect().toSet == oracle,
      "compaction re-merged an already-folded leftover")
    val ids = spark.read.parquet(wh)
      .select(col("_batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(streaming.EventStream.CompactedBatchId),
      s"leftover delta dir survived the sweep: $ids")
  }

  test("streaming heavy hitters converge to the exact batch counts") {
    val stream = streaming.EventStream.readEventStream(spark, streamDir)
    // event_type universe is tiny → capacity 64 keeps the summary in
    // its exact regime; the last update per (group, item) must equal
    // the plain batch counts
    val q = streaming.EventStream
      .streamingHeavyHitters(stream.selectExpr("CAST(user_id % 4 AS STRING) AS g",
        "event_type"), "g", "event_type", 64)
      .writeStream.outputMode("update")
      .format("memory").queryName("stream_hh").start()
    try {
      q.processAllAvailable()
      val got = spark.table("stream_hh")
        .groupBy("g", "item").agg(max("n_occurrences").as("n"))
      val expected = Tables.events(spark, sf)
        .selectExpr("CAST(user_id % 4 AS STRING) AS g", "event_type AS item")
        .groupBy("g", "item").agg(count(lit(1)).as("n"))
      assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    } finally q.stop()
  }

  test("streaming CMS sketch is bit-identical to the batch aggregate") {
    val stream = streaming.EventStream.readEventStream(spark, streamDir)
    val q = streaming.EventStream
      .streamingCms(stream.selectExpr("event_type", "user_id"),
        "event_type", "user_id", 4, 256)
      .writeStream.outputMode("update")
      .format("memory").queryName("stream_cms").start()
    try {
      q.processAllAvailable()
      // latest snapshot per group = the row with the largest item total
      val got = spark.table("stream_cms").collect()
        .groupBy(_.getString(0))
        .map { case (g, rows) =>
          g -> rows.maxBy(_.getLong(1)).getAs[Array[Byte]]("sketch")
        }
      import graft.functions.CmsFunctions._
      val batch = Tables.events(spark, sf)
        .groupBy(col("event_type"))
        .agg(cmsSketch(col("user_id"), 4, 256).as("sk"))
        .collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]]("sk")).toMap
      assert(got.keySet == batch.keySet)
      got.foreach { case (g, sk) =>
        assert(java.util.Arrays.equals(sk, batch(g)),
          s"streaming CMS differs from batch for group $g")
      }
    } finally q.stop()
  }

  test("streaming alarm latches across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, String, Long)]
    val daily = ms.toDF.toDF("event_type", "day", "n_events")
    val q = streaming.EventStream.alarmStream(daily, 10L, 5L)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_alarm").start()
    try {
      // batch 1: 20 trips the alarm, 7 holds it
      ms.addData(("t", "2024-01-01", 20L), ("t", "2024-01-02", 7L))
      q.processAllAvailable()
      // batch 2: 7 can only read "on" if the latch CARRIED over the
      // micro-batch boundary; 3 releases it
      ms.addData(("t", "2024-01-03", 7L), ("t", "2024-01-04", 3L))
      q.processAllAvailable()
      val rows = spark.table("stream_alarm").collect()
        .map(r => r.getAs[java.sql.Date]("day").toString ->
          r.getString(3)).toMap
      assert(rows == Map("2024-01-01" -> "on", "2024-01-02" -> "on",
        "2024-01-03" -> "on", "2024-01-04" -> "off"))
    } finally q.stop()
  }

  test("streaming counter deltas carry the last reading across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long, String, Long, Long)]
    val readings = ms.toDF.toDF("event_type", "user_id", "tss", "event_id", "cents")
      .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    val q = streaming.EventStream.counterDeltaStream(readings)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_cdelta").start()
    try {
      // batch 1: first reading (no delta), then +500
      ms.addData(("t", 1L, "2024-01-01 10:00:00", 1L, 1000L),
        ("t", 1L, "2024-01-01 11:00:00", 2L, 1500L))
      q.processAllAvailable()
      // batch 2: 1500 -> 300 is a reset ONLY if the 1500 carried
      // across the batch boundary; then +150
      ms.addData(("t", 1L, "2024-01-02 10:00:00", 3L, 300L),
        ("t", 1L, "2024-01-02 11:00:00", 4L, 450L))
      q.processAllAvailable()
      val rows = spark.table("stream_cdelta").collect()
        .map(r => r.getAs[Long]("cents") ->
          (r.getAs[Long]("delta_cents"), r.getAs[Long]("is_reset"))).toMap
      assert(rows == Map(1000L -> (0L, 0L), 1500L -> (500L, 0L),
        300L -> (300L, 1L), 450L -> (150L, 0L)))
    } finally q.stop()
  }

  test("streaming pattern negation resolves pending starts across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, Long, String)]
    val ev = ms.toDF.toDF("user_id", "tss", "event_id", "event_type")
      .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    val q = streaming.EventStream.patternNegationStream(ev, "view", "purchase", "error")
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_pattern").start()
    try {
      // batch 1: user 1 opens a start; user 2 opens a start then hits
      // a blocker — both stay PENDING (no target yet, nothing emits)
      ms.addData(
        (1L, "2024-01-01 10:00:00", 1L, "view"),
        (2L, "2024-01-01 10:00:00", 2L, "view"),
        (2L, "2024-01-01 10:30:00", 3L, "error"))
      q.processAllAvailable()
      assert(spark.table("stream_pattern").count() == 0)
      // batch 2: targets arrive — user 1 converts (no blocker ever),
      // user 2 is blocked ONLY if the blocker memory carried across
      // the micro-batch boundary
      ms.addData(
        (1L, "2024-01-02 09:00:00", 4L, "purchase"),
        (2L, "2024-01-02 09:00:00", 5L, "purchase"))
      q.processAllAvailable()
      val rows = spark.table("stream_pattern").collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[String]("outcome")).toMap
      assert(rows == Map(1L -> "converted", 2L -> "blocked"), s"got $rows")
      // batch 3: blocker and target at the SAME timestamp — the tie
      // resolves to the target (batch parity)
      ms.addData(
        (3L, "2024-01-03 08:00:00", 6L, "view"),
        (3L, "2024-01-03 09:00:00", 7L, "error"),
        (3L, "2024-01-03 09:00:00", 8L, "purchase"))
      q.processAllAvailable()
      val u3 = spark.table("stream_pattern").collect()
        .filter(_.getAs[Long]("user_id") == 3L).map(_.getAs[String]("outcome"))
      assert(u3.toSeq == Seq("converted"), s"tie must convert: ${u3.toSeq}")
    } finally q.stop()
  }

  test("streaming dedup within watermark drops duplicate event_ids") {
    val dir = streamDir
    val stream = streaming.EventStream.readEventStream(spark, dir)
    val doubled = stream.union(stream) // duplicate every event
    val q = streaming.EventStream.dedupStream(doubled)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream").start()
    try {
      q.processAllAvailable()
      val n = spark.table("dedup_stream").count()
      val distinctIds = Tables.events(spark, sf).select("event_id").distinct().count()
      assert(n == distinctIds, s"dedup produced $n rows, expected $distinctIds")
    } finally q.stop()
  }

  test("watermarked operators filter late rows with the previous batch's watermark") {
    // three files, one per trigger: batch 1 still filters with batch
    // 0's initial (epoch) watermark, so batch 2 is the first whose
    // lagged watermark (batch 1's, 12:10) trails its own (12:30)
    import spark.implicits._
    def at(hhmm: String) = java.sql.Timestamp.from(
      java.time.Instant.parse(s"2024-01-01T$hhmm:00Z"))
    val files = Seq(
      Seq(1L -> "12:00", 2L -> "12:20"),
      Seq(3L -> "12:40"),
      // 7: at the lagged watermark; 8: between it and batch 2's own;
      // 9: below it, in a window that closed at 12:05
      Seq(7L -> "12:10", 8L -> "12:15", 9L -> "12:01"))
    val dir = java.nio.file.Files.createTempDirectory("events_late").toString
    val base = System.currentTimeMillis() - 100000L
    files.zipWithIndex.foreach { case (rows, i) =>
      val tmp = java.nio.file.Files.createTempDirectory("events_late_part").toString
      rows.map { case (id, t) => (id, at(t), 1L, "click", 1.0) }
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$dir/part$i.parquet")
      assert(part.renameTo(dst) && dst.setLastModified(base + i * 1000L))
    }
    def run(op: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
            mode: String) = {
      val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, org.apache.spark.sql.Row)]()
      val q = op(streaming.EventStream.readEventStream(spark, dir, Some(1)))
        .writeStream.outputMode(mode)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.collect().foreach(r => out.add(id -> r)); ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val prog = q.recentProgress.map(p => p.batchId -> p).toMap
      assert(prog(1).eventTime.get("watermark") == "2024-01-01T12:10:00.000Z")
      assert(prog(2).eventTime.get("watermark") == "2024-01-01T12:30:00.000Z")
      import scala.jdk.CollectionConverters._
      (out.asScala.collect { case (2L, r) => r }.toSeq,
        prog(2).stateOperators.map(_.numRowsDroppedByWatermark).sum)
    }
    // row level: ts <= 12:10 is dropped (7 and 9), 8 is kept although
    // it is below batch 2's own watermark
    val (deduped, dedupDropped) = run(streaming.EventStream.dedupStream, "append")
    assert(deduped.map(_.getAs[Long]("event_id")).toSet == Set(8L))
    assert(dedupDropped == 2)
    // window level: 7's window [12:10, 12:15) is still open at 12:10,
    // so the late row is aggregated; 9's closed window is the one
    // dropped group
    val (windows, aggDropped) = run(streaming.EventStream.windowedAgg, "update")
    val counts = windows.map(r =>
      r.getStruct(0).getTimestamp(0) -> r.getAs[Long]("n_events")).toMap
    assert(counts == Map(at("12:10") -> 1L, at("12:15") -> 1L))
    assert(aggDropped == 1)
  }
}
