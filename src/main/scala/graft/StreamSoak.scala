package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sustained micro-batch soak for the streaming family.
  *
  * Every streaming operator is graded at fixture scale with
  * spec-pinned batch≡stream parity; what fixture specs cannot show is
  * sustained operation — does state stay bounded over ~1,000 real
  * micro-batches, does the delta-maintained warehouse stay readable
  * under live writes + periodic compaction, and does the terminal
  * table still match the one-shot batch answer bit-for-bit? This
  * harness stages the 10× event feed as N parquet files, replays it
  * as N micro-batches (maxFilesPerTrigger=1 under AvailableNow), and
  * drives three graded operators end-to-end:
  *
  *  1. rollup maintenance ([[graft.streaming.EventStream.rollupBatch]])
  *     with a compaction every `compactEvery` batches — terminal
  *     [[graft.streaming.EventStream.readRollup]] must equal the
  *     one-shot batch rollup EXACTLY (decimal re-aggregation is
  *     order-independent, so arrival order cannot excuse a diff);
  *  2. per-user running totals (mapGroupsWithState) — the state-store
  *     row count must plateau at the distinct-user count (state grows
  *     with KEYS, never with batches); terminal n_events per user must
  *     equal the batch groupBy exactly (sum_value compared at 1e-9
  *     relative: double accumulation order differs by construction);
  *  3. streaming Count-Min sketch (flatMapGroupsWithState) — fixed
  *     depth×width counters per group; the terminal sketch must be
  *     BIT-IDENTICAL to the batch cms_sketch aggregate over the whole
  *     feed (counter addition commutes, so this is exact by design);
  *  4. alarm hysteresis (B18b) — one latched boolean per family,
  *     driven by an IN-ORDER day-aligned daily-aggregate feed;
  *  5. cumulative-counter deltas (B32b) — one last-reading long per
  *     (type, entity), driven by an in-order raw feed;
  *  6. pattern-with-negation (E72b) — pending-start lists per user,
  *     same in-order raw feed.
  *
  * Operators 1–3 are order-INSENSITIVE by design, so their feed
  * arrives in arbitrary (modification-time) order. Operators 4–6 are
  * sequential state machines whose cross-batch contract is "batches
  * arrive in event-time order" (in production: a log-structured feed
  * or the rollup warehouse emitting completed slices) — the harness
  * realizes that contract by staging range-sliced files and stamping
  * STRICTLY ASCENDING mtimes, which FileStreamSource (latestFirst =
  * false, maxFilesPerTrigger = 1) replays oldest-first. Their
  * terminal tables must equal the same operator run in one batch
  * pass over the whole feed — exactly, no tolerance (all-integer /
  * string outputs).
  *
  * Emits one JSON artifact with the per-batch state-size series
  * (sampled), batch-duration percentiles, the terminal oracle
  * verdicts, and host-drift sentinel walls — the STREAM_SOAK
  * evidence the round brief asks for.
  *
  * args: srcDir outPath nFiles [compactEvery]
  */
object StreamSoak {
  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outPath = args(1)
    val nFiles = if (args.length > 2) args(2).toInt else 1000
    val compactEvery = if (args.length > 3) args(3).toInt else 200
    val spark = Session.build()
    // keep every progress event: the state-size series IS the
    // artifact. The floor covers legs whose batch count is NOT
    // nFiles-derived (the alarm leg's (day, family) slicing can
    // exceed a small smoke nFiles — the r12 smoke caught exactly
    // that as a silently truncated progress buffer)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      (math.max(nFiles, 2048) + 64).toLong)
    import graft.streaming.EventStream

    // host-drift sentinel bracketing the whole soak (see graft.Sentinel)
    val sentinelBefore = Sentinel.seconds()

    val work = java.nio.file.Files.createTempDirectory("graft_stream_soak")
      .toString
    val feedDir = s"$work/feed"

    // ---- stage the feed: N ts-contiguous parquet slices -------------
    // Range-partition by (ts, event_id) so each file is one time slice
    // of the feed — the shape a connect daemon actually lands. File
    // arrival ORDER at the source is by modification time (written
    // concurrently → effectively arbitrary), which is deliberate: all
    // three soaked operators are order-insensitive by design, and a
    // real feed is never perfectly ordered either.
    val events = Tables.events(spark, srcDir)
    events.repartitionByRange(nFiles, col("ts"), col("event_id"))
      .write.mode("overwrite").parquet(feedDir)
    val feedRows = spark.read.parquet(feedDir).count()
    val stagedFiles = new java.io.File(feedDir)
      .listFiles().count(f => f.getName.endsWith(".parquet"))
    println(s"staged $stagedFiles files / $feedRows rows at $feedDir")
    // the "N files -> N micro-batches" claim is an invariant, not an
    // assumption: range-sampling can collapse sparse ranges into
    // fewer files, which would silently shrink the soak
    require(stagedFiles == nFiles,
      s"staged $stagedFiles files, wanted $nFiles - feed too small for this slicing")

    def pct(xs: Seq[Double], p: Double): Double =
      if (xs.isEmpty) 0.0
      else xs.sorted.apply(math.min(xs.size - 1, (p * xs.size).toInt))

    // progress → (batchId, inputRows, triggerMs, stateRows, stateMem)
    def progressRows(q: org.apache.spark.sql.streaming.StreamingQuery)
        : Seq[(Long, Long, Long, Long, Long)] =
      q.recentProgress.toSeq.map { p =>
        val (rows, mem) = p.stateOperators.headOption
          .map(s => (s.numRowsTotal, s.memoryUsedBytes)).getOrElse((0L, 0L))
        (p.batchId, p.numInputRows,
          Option(p.durationMs.get("triggerExecution")).map(_.longValue)
            .getOrElse(0L), rows, mem)
      }.sortBy(_._1)

    def series(rows: Seq[(Long, Long, Long, Long, Long)]): String = {
      // sample every 25th batch plus the last — enough to see the
      // plateau without a 1000-element artifact
      val picked = rows.zipWithIndex
        .filter { case (_, i) => i % 25 == 0 || i == rows.size - 1 }
        .map(_._1)
      picked.map { case (b, _, _, st, _) => s"[$b,$st]" }
        .mkString("[", ",", "]")
    }

    // stage `df` as (up to) `nSlices` range-contiguous parquet files
    // with STRICTLY ASCENDING mtimes in range order — the in-order
    // feed contract of the sequential state machines (legs 4-6).
    // Returns the actual file count (range sampling may collapse
    // sparse ranges; the legs assert against the actual).
    def stageOrdered(df: DataFrame, dir: String, nSlices: Int,
                     keys: Seq[org.apache.spark.sql.Column]): Int = {
      df.repartitionByRange(nSlices, keys: _*)
        .write.mode("overwrite").parquet(dir)
      val parts = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      // part-NNNNN prefixes sort in partition order = ascending range
      // order (RangePartitioner is ascending); distinct mtimes 1s
      // apart make FileStreamSource's oldest-first order total
      val base = System.currentTimeMillis() - (parts.length + 60).toLong * 1000L
      parts.zipWithIndex.foreach { case (f, i) =>
        require(f.setLastModified(base + i * 1000L), s"mtime stamp failed: $f")
      }
      parts.length
    }

    def exceptBoth(a: DataFrame, b: DataFrame): Long =
      a.exceptAll(b).count() + b.exceptAll(a).count()

    // stage `df` as range-contiguous time slices whose ARRIVAL order
    // (mtime order — FileStreamSource replays oldest-first) is a
    // seeded deterministic BLOCK-LOCAL shuffle of range order: within
    // every 8-slice block slices arrive permuted, so throughout the
    // whole run some slices land after later slices have already
    // advanced the watermark — genuinely late, SUSTAINED (an
    // unbounded permutation lets one near-max slice arrive early and
    // the watermark leaps to the end: 94% of the feed drops in one
    // step and the within-watermark oracle subset goes thin — the r12
    // smoke measured exactly that). Bounded displacement is also the
    // realistic contract: real feeds are locally out of order, not
    // adversarially scrambled. Returns the staged file names in
    // ARRIVAL order (= micro-batch order under maxFilesPerTrigger=1),
    // for joining per-batch watermarks back to the rows each batch
    // carried.
    def stageShuffled(df: DataFrame, dir: String, nSlices: Int,
                      keys: Seq[org.apache.spark.sql.Column]): Seq[String] = {
      df.repartitionByRange(nSlices, keys: _*)
        .write.mode("overwrite").parquet(dir)
      val parts = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val rnd = new scala.util.Random(20260816L)
      val perm = parts.indices.grouped(8)
        .flatMap(block => rnd.shuffle(block.toList)).toList
      val base = System.currentTimeMillis() - (parts.length + 60).toLong * 1000L
      perm.zipWithIndex.foreach { case (fileIdx, arrivalIdx) =>
        require(parts(fileIdx).setLastModified(base + arrivalIdx * 1000L),
          s"mtime stamp failed: ${parts(fileIdx)}")
      }
      perm.map(i => parts(i).getName)
    }

    // per-batch event-time watermark (ms since epoch) from the query's
    // progress events (the EVICTION watermark — recomputed before the
    // batch from everything seen so far)
    def watermarksMs(q: org.apache.spark.sql.streaming.StreamingQuery)
        : Map[Long, Long] =
      q.recentProgress.toSeq.map { p =>
        val wm = Option(p.eventTime.get("watermark"))
          .map(java.time.Instant.parse(_).toEpochMilli).getOrElse(0L)
        p.batchId -> wm
      }.toMap

    // The watermark arithmetic below was pinned EMPIRICALLY against
    // Spark's observed behavior (per-batch progress + per-row replay;
    // StreamingSpec's lagged-watermark case keeps them pinned):
    //  - the LATE-EVENTS filter of batch b uses the PREVIOUS batch's
    //    displayed watermark (the eviction watermark advances a batch
    //    ahead of the late-row filter);
    //  - row-level operators (dedup, join inputs) drop rows with
    //    ts <= that lagged watermark;
    //  - windowed aggregation drops at WINDOW granularity after
    //    partial aggregation: a (window, key) group is dropped iff
    //    window.end <= the lagged watermark — a late row whose window
    //    is still open IS aggregated, and numRowsDroppedByWatermark
    //    counts dropped partial GROUPS, not input rows;
    //  - append mode emits a window once the (un-lagged) watermark
    //    reaches window.end.

    // staged feed annotated with its batch's lagged filter watermark
    def withFwm(feedDf: DataFrame, arrival: Seq[String],
                wms: Map[Long, Long]): DataFrame = {
      val spark2 = feedDf.sparkSession
      import spark2.implicits._
      val fileWm = arrival.zipWithIndex
        .map { case (name, b) => (name, wms.getOrElse((b - 1).toLong, 0L)) }
        .toDF("_file", "_fwm_ms")
      feedDf
        .withColumn("_file",
          element_at(split(input_file_name(), "/"), -1))
        .join(broadcast(fileWm), Seq("_file"))
    }

    // kept subset for ROW-level watermark operators
    def keptRows(feedDf: DataFrame, arrival: Seq[String],
                 wms: Map[Long, Long]): DataFrame =
      withFwm(feedDf, arrival, wms)
        .filter(unix_millis(col("ts")) > col("_fwm_ms"))
        .drop("_file", "_fwm_ms")

    // kept subset for the 5-minute WINDOWED aggregation (kept iff the
    // row's window end is past the batch's lagged watermark)
    def keptRowsWindowed(feedDf: DataFrame, arrival: Seq[String],
                         wms: Map[Long, Long]): DataFrame =
      withFwm(feedDf, arrival, wms)
        .filter(floor(unix_millis(col("ts")) / 300000L) * 300000L + 300000L
          > col("_fwm_ms"))
        .drop("_file", "_fwm_ms")

    // expected dropped partial groups for the windowed aggregation:
    // distinct (batch, window, type) fully-late groups
    def expectedDroppedGroups(feedDf: DataFrame, arrival: Seq[String],
                              wms: Map[Long, Long]): Long =
      withFwm(feedDf, arrival, wms)
        .filter(floor(unix_millis(col("ts")) / 300000L) * 300000L + 300000L
          <= col("_fwm_ms"))
        .select(col("_file"),
          floor(unix_millis(col("ts")) / 300000L).as("_w"), col("event_type"))
        .distinct()
        .count()

    def droppedByWatermark(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
        .map(_.numRowsDroppedByWatermark).sum

    val sb = new StringBuilder
    sb.append("{")
    sb.append(s""""src_dir":${Json.str(srcDir)},"n_feed_files":$stagedFiles,""")
    sb.append(s""""feed_rows":$feedRows,""")

    // ---- 1. rollup maintenance + periodic compaction ----------------
    locally {
      val wh = s"$work/wh"
      var compactions = 0
      val t0 = System.nanoTime()
      val q = EventStream.readEventStream(spark, feedDir, Some(1))
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          EventStream.rollupBatch(batch, batchId, wh)
          if (batchId > 0 && batchId % compactEvery == 0) {
            // fold only up to the committed frontier (batchId - 1):
            // folding the CURRENT batch would let a crash-replay of it
            // re-create deltas compaction already owns (see
            // compactRollup's maxBatchId contract)
            EventStream.compactRollup(spark, wh, maxBatchId = batchId - 1)
            compactions += 1
          }
        }
        .option("checkpointLocation", s"$work/ck_rollup")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wallS = (System.nanoTime() - t0) / 1e9
      val prog = progressRows(q)
      val durs = prog.map(_._3.toDouble)
      // terminal oracle: reader view ≡ one-shot batch rollup, exactly
      val stream = EventStream.readRollup(spark, wh)
      val oracle = graft.operators.Rollups.fiveMinute(
        Tables.events(spark, srcDir))
      val mismatches = stream.as("s").join(oracle.as("o"),
          Seq("bucket_start", "event_type"), "full_outer")
        .filter(col("s.n_events").isNull || col("o.n_events").isNull ||
          col("s.n_events") =!= col("o.n_events") ||
          col("s.sum_value") =!= col("o.sum_value"))
        .count()
      val whParts = spark.read.parquet(wh)
        .select("_day", "_batch_id").distinct().count()
      sb.append(s""""rollup":{"batches":${prog.size},""")
      sb.append(f""""wall_s":$wallS%.1f,"compactions":$compactions,""")
      sb.append(s""""warehouse_partitions_final":$whParts,""")
      sb.append(s""""stream_rows":${stream.count()},"oracle_rows":${oracle.count()},""")
      sb.append(s""""mismatch_rows":$mismatches,"bit_exact":${mismatches == 0},""")
      sb.append(f""""batch_ms_p50":${pct(durs, 0.5)}%.0f,"batch_ms_p95":${pct(durs, 0.95)}%.0f,"batch_ms_max":${pct(durs, 1.0)}%.0f},""")
      println(s"rollup: ${prog.size} batches, $compactions compactions, mismatches=$mismatches")
      require(mismatches == 0, "rollup terminal oracle mismatch")
    }

    // ---- 2. per-user running totals (mapGroupsWithState) ------------
    locally {
      val outParq = s"$work/user_totals"
      val t0 = System.nanoTime()
      val q = EventStream.runningUserTotals(
          EventStream.readEventStream(spark, feedDir, Some(1)))
        .writeStream
        .outputMode("update")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.withColumn("_batch_id", lit(batchId))
            .write.mode("append").parquet(outParq)
        }
        .option("checkpointLocation", s"$work/ck_totals")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wallS = (System.nanoTime() - t0) / 1e9
      val prog = progressRows(q)
      val durs = prog.map(_._3.toDouble)
      val stateRows = prog.map(_._4)
      // terminal snapshot: each user's row from their LAST batch
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("_batch_id").desc)
      val terminal = spark.read.parquet(outParq)
        .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .select("user_id", "n_events", "sum_value")
      val batchOracle = Tables.events(spark, srcDir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      val distinctUsers = batchOracle.count()
      val joined = terminal.as("s").join(batchOracle.as("o"), Seq("user_id"),
        "full_outer")
      val countMismatch = joined.filter(col("s.n_events").isNull ||
        col("o.n_events").isNull ||
        col("s.n_events") =!= col("o.n_events")).count()
      // double accumulation order differs stream-vs-batch by
      // construction; 1e-9 relative is the honest bound, not a fudge
      val maxRelErr = joined
        .select(max(abs(col("s.sum_value") - col("o.sum_value")) /
          greatest(abs(col("o.sum_value")), lit(1.0))).as("m"))
        .head.getDouble(0)
      sb.append(s""""user_totals":{"batches":${prog.size},""")
      sb.append(f""""wall_s":$wallS%.1f,""")
      sb.append(s""""distinct_users":$distinctUsers,""")
      sb.append(s""""state_rows_max":${stateRows.max},"state_rows_final":${stateRows.last},""")
      sb.append(s""""state_bounded_by_keys":${stateRows.max == distinctUsers},""")
      sb.append(s""""state_rows_series":${series(prog)},""")
      sb.append(s""""n_events_mismatch":$countMismatch,""")
      sb.append(f""""sum_rel_err_max":$maxRelErr%.3e,""")
      sb.append(f""""batch_ms_p50":${pct(durs, 0.5)}%.0f,"batch_ms_p95":${pct(durs, 0.95)}%.0f,"batch_ms_max":${pct(durs, 1.0)}%.0f},""")
      println(s"user_totals: ${prog.size} batches, state max=${stateRows.max} " +
        s"users=$distinctUsers countMismatch=$countMismatch relErr=$maxRelErr")
      require(countMismatch == 0, "user totals terminal count mismatch")
      require(stateRows.max == distinctUsers, "state not bounded by key count")
      require(maxRelErr < 1e-9, s"sum drift $maxRelErr exceeds 1e-9")
    }

    // ---- 3. streaming CMS (flat state, bit-exact terminal) -----------
    locally {
      val outParq = s"$work/cms"
      val depth = 4; val width = 512
      val t0 = System.nanoTime()
      val q = EventStream.streamingCms(
          EventStream.readEventStream(spark, feedDir, Some(1)),
          "event_type", "user_id", depth, width)
        .writeStream
        .outputMode("update")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.withColumn("_batch_id", lit(batchId))
            .write.mode("append").parquet(outParq)
        }
        .option("checkpointLocation", s"$work/ck_cms")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wallS = (System.nanoTime() - t0) / 1e9
      val prog = progressRows(q)
      val stateRows = prog.map(_._4)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("_batch_id").desc)
      val terminal = spark.read.parquet(outParq)
        .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .select(col("event_type"), col("sketch"))
      import graft.functions.CmsFunctions._
      val batchSketch = Tables.events(spark, srcDir)
        .groupBy("event_type")
        .agg(cmsSketch(col("user_id"), depth, width).as("sketch"))
      val groups = batchSketch.count()
      val diff = terminal.as("s").join(batchSketch.as("o"), Seq("event_type"),
          "full_outer")
        .filter(col("s.sketch").isNull || col("o.sketch").isNull ||
          col("s.sketch") =!= col("o.sketch"))
        .count()
      sb.append(s""""cms":{"batches":${prog.size},""")
      sb.append(f""""wall_s":$wallS%.1f,""")
      sb.append(s""""groups":$groups,"state_rows_final":${stateRows.last},""")
      sb.append(s""""sketch_bit_identical":${diff == 0}}""")
      println(s"cms: ${prog.size} batches, groups=$groups bitDiff=$diff")
      require(diff == 0, "streaming CMS terminal sketch not bit-identical")
    }

    // ---- 4. alarm hysteresis over an in-order day-aligned feed ------
    locally {
      val dailyDir = s"$work/daily_feed"
      val outParq = s"$work/alarm"
      val dailyBatch = Tables.events(spark, srcDir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"))
      // day-aligned: equal (day, family) values land in ONE range
      // slice, so every micro-batch carries complete (day, family)
      // aggregates and the latch sees each day's full count exactly
      // once, with days ascending per family (range order is (day,
      // type) lexicographic). Slicing by (day, type) instead of day
      // alone multiplies the batch tier ~families x, but the
      // day-alignment CONTRACT still caps batches at the number of
      // distinct (day, family) slices in the graded window — it
      // cannot reach the raw-feed legs' 1000 tier on a 30-day feed
      // (stated here per the r11 verdict task 4 escape clause).
      val nDayFiles = stageOrdered(dailyBatch, dailyDir, 1024,
        Seq(col("day"), col("event_type")))
      val sch = spark.read.parquet(dailyDir).schema
      val t0 = System.nanoTime()
      val q = graft.streaming.EventStream.alarmStream(
          spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
            .parquet(dailyDir), 73L, 60L)
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.withColumn("_batch_id", lit(batchId))
            .write.mode("append").parquet(outParq)
        }
        .option("checkpointLocation", s"$work/ck_alarm")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wallS = (System.nanoTime() - t0) / 1e9
      val prog = progressRows(q)
      val durs = prog.map(_._3.toDouble)
      val stateRows = prog.map(_._4)
      val families = dailyBatch.select("event_type").distinct().count()
      val terminal = spark.read.parquet(outParq)
        .select("event_type", "day", "n_events", "alarm")
      val oracle = graft.streaming.EventStream.alarmStream(dailyBatch, 73L, 60L)
      val mism = exceptBoth(terminal, oracle)
      sb.append(s""","alarm":{"batches":${prog.size},"day_files":$nDayFiles,""")
      sb.append(f""""wall_s":$wallS%.1f,"families":$families,""")
      sb.append(s""""state_rows_max":${stateRows.max},""")
      sb.append(s""""state_bounded_by_keys":${stateRows.max == families},""")
      sb.append(s""""mismatch_rows":$mism,"bit_exact":${mism == 0},""")
      sb.append(f""""batch_ms_p50":${pct(durs, 0.5)}%.0f,"batch_ms_p95":${pct(durs, 0.95)}%.0f,"batch_ms_max":${pct(durs, 1.0)}%.0f}""")
      println(s"alarm: ${prog.size} batches ($nDayFiles day files), state max=${stateRows.max} mism=$mism")
      require(prog.size == nDayFiles, "alarm: batches != staged day files")
      require(mism == 0, "alarm terminal oracle mismatch")
      require(stateRows.max == families, "alarm state not bounded by family count")
    }

    // ---- 5 & 6. counter deltas + pattern negation, in-order raw feed
    // full nFiles tier since r12 (uniform evidence tier across all six
    // state machines — r11 verdict task 4; alarm alone stays capped by
    // its day-alignment contract, stated in the artifact)
    val orderedDir = s"$work/ordered_feed"
    val nOrdered = stageOrdered(Tables.events(spark, srcDir), orderedDir,
      nFiles, Seq(col("ts"), col("event_id")))
    println(s"staged $nOrdered ordered files at $orderedDir")

    locally {
      val outParq = s"$work/counter_deltas"
      def readings(df: DataFrame) = df.select(
        col("event_type"), col("user_id"), col("ts"), col("event_id"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      val t0 = System.nanoTime()
      val q = graft.streaming.EventStream.counterDeltaStream(
          readings(EventStream.readEventStream(spark, orderedDir, Some(1))))
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.withColumn("_batch_id", lit(batchId))
            .write.mode("append").parquet(outParq)
        }
        .option("checkpointLocation", s"$work/ck_deltas")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wallS = (System.nanoTime() - t0) / 1e9
      val prog = progressRows(q)
      val durs = prog.map(_._3.toDouble)
      val stateRows = prog.map(_._4)
      val keys = Tables.events(spark, srcDir)
        .select("event_type", "user_id").distinct().count()
      val cols = Seq("event_type", "user_id", "ts", "cents", "delta_cents", "is_reset")
      val terminal = spark.read.parquet(outParq).select(cols.map(col): _*)
      val oracle = graft.streaming.EventStream.counterDeltaStream(
        readings(Tables.events(spark, srcDir))).select(cols.map(col): _*)
      val mism = exceptBoth(terminal, oracle)
      sb.append(s""","counter_deltas":{"batches":${prog.size},""")
      sb.append(f""""wall_s":$wallS%.1f,"type_user_keys":$keys,""")
      sb.append(s""""state_rows_max":${stateRows.max},"state_rows_final":${stateRows.last},""")
      sb.append(s""""state_bounded_by_keys":${stateRows.max <= keys},""")
      sb.append(s""""state_rows_series":${series(prog)},""")
      sb.append(s""""mismatch_rows":$mism,"bit_exact":${mism == 0},""")
      sb.append(f""""batch_ms_p50":${pct(durs, 0.5)}%.0f,"batch_ms_p95":${pct(durs, 0.95)}%.0f,"batch_ms_max":${pct(durs, 1.0)}%.0f}""")
      println(s"counter_deltas: ${prog.size} batches, state max=${stateRows.max} keys=$keys mism=$mism")
      require(prog.size == nOrdered, "counter_deltas: batches != staged files")
      require(mism == 0, "counter-delta terminal oracle mismatch")
      require(stateRows.max <= keys, "counter-delta state exceeds key count")
    }

    locally {
      val outParq = s"$work/pattern"
      val t0 = System.nanoTime()
      val q = graft.streaming.EventStream.patternNegationStream(
          EventStream.readEventStream(spark, orderedDir, Some(1)),
          "view", "purchase", "error")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.withColumn("_batch_id", lit(batchId))
            .write.mode("append").parquet(outParq)
        }
        .option("checkpointLocation", s"$work/ck_pattern")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wallS = (System.nanoTime() - t0) / 1e9
      val prog = progressRows(q)
      val durs = prog.map(_._3.toDouble)
      val stateRows = prog.map(_._4)
      val users = Tables.events(spark, srcDir).select("user_id").distinct().count()
      val cols = Seq("user_id", "start_event_id", "start_ts", "outcome", "target_ts")
      val terminal = spark.read.parquet(outParq).select(cols.map(col): _*)
      val oracle = graft.streaming.EventStream.patternNegationStream(
        Tables.events(spark, srcDir), "view", "purchase", "error")
        .select(cols.map(col): _*)
      val mism = exceptBoth(terminal, oracle)
      sb.append(s""","pattern":{"batches":${prog.size},""")
      sb.append(f""""wall_s":$wallS%.1f,"users":$users,""")
      sb.append(s""""state_rows_max":${stateRows.max},"state_rows_final":${stateRows.last},""")
      sb.append(s""""state_bounded_by_keys":${stateRows.max <= users},""")
      sb.append(s""""state_rows_series":${series(prog)},""")
      sb.append(s""""mismatch_rows":$mism,"bit_exact":${mism == 0},""")
      sb.append(f""""batch_ms_p50":${pct(durs, 0.5)}%.0f,"batch_ms_p95":${pct(durs, 0.95)}%.0f,"batch_ms_max":${pct(durs, 1.0)}%.0f}""")
      println(s"pattern: ${prog.size} batches, state max=${stateRows.max} users=$users mism=$mism")
      require(prog.size == nOrdered, "pattern: batches != staged files")
      require(mism == 0, "pattern terminal oracle mismatch")
      require(stateRows.max <= users, "pattern state exceeds user count")
    }

    // ---- 7-9. LATE-DATA soak: the watermark operators under a
    // shuffled/delayed feed (r11 verdict task 3). The in-order
    // contract above never exercises the one thing watermarks exist
    // for; here the time slices ARRIVE in a seeded permutation of
    // range order, so slices landing after later slices have advanced
    // the watermark are genuinely late. Gates per leg: (a) the feed
    // actually exercised lateness (dropped rows > 0); (b) dropped
    // accounting is exact — sum of numRowsDroppedByWatermark equals
    // feed minus the rebuilt kept subset, row for row, which pins the
    // keptRows watermark arithmetic to the engine's; (c) terminal
    // output equals the batch oracle over the kept (within-watermark)
    // subset exactly; (d) state stays bounded (series in artifact).
    val lateSlices = math.max(nFiles / 4, 50)

    // -- 7. watermarked windowed aggregation (E3), append mode -------
    locally {
      val lateDir = s"$work/late_feed"
      val outParq = s"$work/late_window_agg"
      val arrival = stageShuffled(Tables.events(spark, srcDir), lateDir,
        lateSlices, Seq(col("ts"), col("event_id")))
      val t0 = System.nanoTime()
      val q = EventStream.windowedAgg(
          EventStream.readEventStream(spark, lateDir, Some(1))
            .withColumn("value", col("value").cast("decimal(18,2)")))
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.write.mode("append").parquet(outParq)
        }
        .option("checkpointLocation", s"$work/ck_late_agg")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wallS = (System.nanoTime() - t0) / 1e9
      val prog = progressRows(q)
      val durs = prog.map(_._3.toDouble)
      val stateRows = prog.map(_._4)
      val wms = watermarksMs(q)
      val dropped = droppedByWatermark(q)
      val feedNorm = EventStream.normalize(spark.read.parquet(lateDir))
      val kept = keptRowsWindowed(feedNorm, arrival, wms).persist()
      val keptN = kept.count()
      val feedN = spark.read.parquet(lateDir).count()
      val expDropGroups = expectedDroppedGroups(feedNorm, arrival, wms)
      // append mode emits a window once the watermark passes its end;
      // windows still open at stream end never surface — the oracle
      // is the kept-subset agg RESTRICTED to closed windows
      val finalWm = wms.values.max
      val oracle = kept
        .withColumn("value", col("value").cast("decimal(18,2)"))
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
        .filter(unix_millis(col("window.end")) <= finalWm)
        .select(unix_micros(col("window.start")).as("ws"),
          col("event_type"), col("n_events"),
          col("sum_value").cast("double").as("sum_value"))
      val got = spark.read.parquet(outParq)
        .select(unix_micros(col("window.start")).as("ws"),
          col("event_type"), col("n_events"),
          col("sum_value").cast("double").as("sum_value"))
      val mism = exceptBoth(got, oracle)
      // the agg's drop counter counts fully-late partial GROUPS
      val acct = expDropGroups == dropped
      kept.unpersist()
      sb.append(s""","late_window_agg":{"batches":${prog.size},""")
      sb.append(f""""wall_s":$wallS%.1f,""")
      sb.append(s""""feed_rows":$feedN,"kept_rows":$keptN,""")
      sb.append(s""""dropped_groups_by_watermark":$dropped,"expected_dropped_groups":$expDropGroups,""")
      sb.append(s""""late_exercised":${dropped > 0},"dropped_accounting_exact":$acct,""")
      sb.append(s""""emitted_windows":${got.count()},"oracle_windows":${oracle.count()},""")
      sb.append(s""""mismatch_rows":$mism,"exact_on_kept_subset":${mism == 0},""")
      sb.append(s""""state_rows_max":${stateRows.max},"state_rows_series":${series(prog)},""")
      sb.append(f""""batch_ms_p50":${pct(durs, 0.5)}%.0f,"batch_ms_p95":${pct(durs, 0.95)}%.0f,"batch_ms_max":${pct(durs, 1.0)}%.0f}""")
      println(s"late_window_agg: ${prog.size} batches, dropped=$dropped " +
        s"(acct=$acct) mism=$mism stateMax=${stateRows.max}")
      require(dropped > 0, "late feed exercised no lateness")
      require(acct, "dropped-row accounting does not reconcile")
      require(mism == 0, "late windowed agg != batch oracle on kept subset")
    }

    // -- 8. within-watermark dedup (E4) under late duplicates --------
    locally {
      val lateDir = s"$work/late_dup_feed"
      val outParq = s"$work/late_dedup"
      val ev = Tables.events(spark, srcDir)
      // a duplicated third, same event_id AND same ts: a duplicate
      // either lands while the original's state is live (same ts ⇒
      // inside the horizon ⇒ suppressed) or is itself late (dropped)
      // — so the emitted set must equal the kept subset's distinct ids
      val feed = ev.unionByName(ev.filter(col("event_id") % 3 === 0))
      val arrival = stageShuffled(feed, lateDir, lateSlices,
        Seq(col("ts"), col("event_id")))
      val t0 = System.nanoTime()
      val q = EventStream.dedupStream(
          EventStream.readEventStream(spark, lateDir, Some(1)))
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.write.mode("append").parquet(outParq)
        }
        .option("checkpointLocation", s"$work/ck_late_dedup")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wallS = (System.nanoTime() - t0) / 1e9
      val prog = progressRows(q)
      val durs = prog.map(_._3.toDouble)
      val stateRows = prog.map(_._4)
      val wms = watermarksMs(q)
      val dropped = droppedByWatermark(q)
      val kept = keptRows(
        EventStream.normalize(spark.read.parquet(lateDir)), arrival, wms)
        .persist()
      val keptN = kept.count()
      val feedN = spark.read.parquet(lateDir).count()
      val got = spark.read.parquet(outParq).select("event_id")
      val gotN = got.count()
      val gotDistinct = got.distinct().count()
      val mism = exceptBoth(got, kept.select("event_id").distinct())
      val acct = feedN - keptN == dropped
      kept.unpersist()
      sb.append(s""","late_dedup":{"batches":${prog.size},""")
      sb.append(f""""wall_s":$wallS%.1f,""")
      sb.append(s""""feed_rows":$feedN,"kept_rows":$keptN,"dropped_by_watermark":$dropped,""")
      sb.append(s""""late_exercised":${dropped > 0},"dropped_accounting_exact":$acct,""")
      sb.append(s""""emitted":$gotN,"emitted_distinct":$gotDistinct,""")
      sb.append(s""""no_duplicate_emitted":${gotN == gotDistinct},""")
      sb.append(s""""mismatch_rows":$mism,"exact_on_kept_subset":${mism == 0},""")
      sb.append(s""""state_rows_max":${stateRows.max},"state_rows_series":${series(prog)},""")
      sb.append(f""""batch_ms_p50":${pct(durs, 0.5)}%.0f,"batch_ms_p95":${pct(durs, 0.95)}%.0f,"batch_ms_max":${pct(durs, 1.0)}%.0f}""")
      println(s"late_dedup: ${prog.size} batches, dropped=$dropped (acct=$acct) " +
        s"emitted=$gotN/$gotDistinct mism=$mism stateMax=${stateRows.max}")
      require(dropped > 0, "late dup feed exercised no lateness")
      require(acct, "dropped-row accounting does not reconcile")
      require(gotN == gotDistinct, "within-watermark dedup emitted a duplicate")
      require(mism == 0, "late dedup != kept subset's distinct ids")
    }

    // -- 9. stream-stream interval join (E24) under late arrivals ----
    locally {
      val lateDir = s"$work/late_join_feed"
      val outParq = s"$work/late_join"
      val arrival = stageShuffled(Tables.events(spark, srcDir), lateDir,
        lateSlices, Seq(col("ts"), col("event_id")))
      val t0 = System.nanoTime()
      val q = EventStream.streamIntervalJoin(
          EventStream.readEventStream(spark, lateDir, Some(1))
            .filter(col("event_type") === "click"),
          EventStream.readEventStream(spark, lateDir, Some(1))
            .filter(col("event_type") === "purchase"))
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.write.mode("append").parquet(outParq)
        }
        .option("checkpointLocation", s"$work/ck_late_join")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wallS = (System.nanoTime() - t0) / 1e9
      val prog = progressRows(q)
      val durs = prog.map(_._3.toDouble)
      val stateRows = prog.map(_._4)
      val wms = watermarksMs(q)
      val dropped = droppedByWatermark(q)
      val feedNorm = EventStream.normalize(spark.read.parquet(lateDir))
      val kept = keptRows(feedNorm, arrival, wms).persist()
      kept.count()
      // the join's drop counter counts late INPUT rows on both sides
      // (only click/purchase rows reach the join)
      val joinFeedN = feedNorm
        .filter(col("event_type").isin("click", "purchase")).count()
      val joinKeptN = kept
        .filter(col("event_type").isin("click", "purchase")).count()
      val acct = joinFeedN - joinKeptN == dropped
      // inner joins emit on match (no watermark wait), and a kept
      // follow-up's in-range trigger is always still in state (the
      // range bound is exactly the state retention bound) — so the
      // oracle is the batch interval join over the kept subset
      val oracle = EventStream.streamIntervalJoin(
          kept.filter(col("event_type") === "click"),
          kept.filter(col("event_type") === "purchase"))
        .select("user_id", "trigger_id", "follow_id")
      val got = spark.read.parquet(outParq)
        .select("user_id", "trigger_id", "follow_id")
      val mism = exceptBoth(got, oracle)
      kept.unpersist()
      sb.append(s""","late_interval_join":{"batches":${prog.size},""")
      sb.append(f""""wall_s":$wallS%.1f,""")
      sb.append(s""""join_feed_rows":$joinFeedN,"join_kept_rows":$joinKeptN,""")
      sb.append(s""""dropped_by_watermark":$dropped,"late_exercised":${dropped > 0},""")
      sb.append(s""""dropped_accounting_exact":$acct,""")
      sb.append(s""""emitted_pairs":${got.count()},"oracle_pairs":${oracle.count()},""")
      sb.append(s""""mismatch_rows":$mism,"exact_on_kept_subset":${mism == 0},""")
      sb.append(s""""state_rows_max":${stateRows.max},"state_rows_series":${series(prog)},""")
      sb.append(f""""batch_ms_p50":${pct(durs, 0.5)}%.0f,"batch_ms_p95":${pct(durs, 0.95)}%.0f,"batch_ms_max":${pct(durs, 1.0)}%.0f}""")
      println(s"late_interval_join: ${prog.size} batches, dropped=$dropped " +
        s"(acct=$acct) pairs=${got.count()} mism=$mism stateMax=${stateRows.max}")
      require(dropped > 0, "late join feed exercised no lateness")
      require(acct, "join dropped-row accounting does not reconcile")
      require(mism == 0, "late interval join != batch join on kept subset")
    }

    sb.append(f""","sentinel_before_s":$sentinelBefore%.3f""")
    sb.append(f""","sentinel_after_s":${Sentinel.seconds()}%.3f""")
    sb.append(f""","sentinel_nominal_s":${Sentinel.NominalS}%.3f""")
    sb.append("}")
    val out = sb.toString
    val target = java.nio.file.Paths.get(outPath)
    Option(target.getParent)
      .foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(target, out.getBytes("UTF-8"))
    println(out)
    // best-effort scratch cleanup (the staged feed is multi-GB at 10×)
    scala.reflect.io.Directory(new java.io.File(work)).deleteRecursively()
    spark.stop()
  }
}
