package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build()
    // fail fast on testdata schema drift (round-5 lesson)
    Tables.validate(spark, sfDir)
    // opt-in per-query shuffle/spill accounting (SPARK_GRAFT_METRICS=1):
    // wall time alone can hide a shuffle-volume blowup behind fast
    // kernels (the sf1 q_dedup_semantic lesson), so soak runs record
    // bytes moved as the scale-honest second axis
    val metricsOn = sys.env.contains("SPARK_GRAFT_METRICS")
    val shufBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val spillBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    // live cached-block footprint (mem + disk) and its per-query PEAK
    // — the measured form of partitionIterEdges' transient-2x cache
    // contract (r11 verdict task 7). Block-update events carry each
    // block's post-update sizes; removals (invalid storage level)
    // subtract the tracked entry, mirroring AppStatusListener.
    val blockSizes = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val storageNow = new java.util.concurrent.atomic.AtomicLong(0L)
    val storagePeak = new java.util.concurrent.atomic.AtomicLong(0L)
    if (metricsOn) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = sc.stageInfo.taskMetrics
          if (m != null) {
            shufBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            spillBytes.addAndGet(m.diskBytesSpilled)
          }
        }
        override def onBlockUpdated(
            ev: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit = {
          val info = ev.blockUpdatedInfo
          if (info.blockId.isRDD) {
            val key = info.blockId.name
            val size =
              if (info.storageLevel.isValid) info.memSize + info.diskSize
              else 0L
            val prev =
              if (size == 0L) Option(blockSizes.remove(key)).getOrElse(0L)
              else Option(blockSizes.put(key, size)).getOrElse(0L)
            val now = storageNow.addAndGet(size - prev)
            storagePeak.getAndAccumulate(now, math.max(_, _))
          }
        }
      })
    // optional subset filter for isolating queries: SPARK_GRAFT_ONLY=q_a,q_b
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val queries = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    // warmup pass: JIT + codegen + page cache, so measured numbers
    // reflect steady state rather than first-query JVM warmup
    if (!sys.env.contains("SPARK_GRAFT_NO_WARMUP")) {
      queries.foreach { case (_, fn) =>
        try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
      }
    }
    // best of two measured passes per query: the host shows periodic
    // multi-second stall windows external to the JVM; min-of-2 keeps a
    // transient stall from being attributed to whichever query it hit
    // first failure's class+message per query: a -1.0 with no reason
    // sent round 7 chasing eight silent sf10 failures through a
    // truncated log — the artifact must say WHY, not just THAT
    val failReasons = scala.collection.mutable.Map[String, String]()
    // optional per-query wall budget (SPARK_GRAFT_TIMEOUT_S): a full
    // 100x soak over the whole suite must not wedge on one runaway
    // query — the watchdog cancels the query's job group and the
    // failure is recorded with its reason like any other
    val timeoutS = sys.env.get("SPARK_GRAFT_TIMEOUT_S").map(_.toInt)
    def timeOnce(name: String,
                 fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try {
        timeoutS match {
          case None => fn(spark, sfDir).count()
          case Some(ts) =>
            @volatile var done = false
            spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
            val watchdog = new Thread(() => {
              val deadline = System.nanoTime() + ts.toLong * 1000000000L
              while (!done && System.nanoTime() < deadline) Thread.sleep(500)
              if (!done) spark.sparkContext.cancelJobGroup(name)
            })
            watchdog.setDaemon(true)
            watchdog.start()
            try { fn(spark, sfDir).count() }
            finally { done = true; spark.sparkContext.clearJobGroup() }
        }
      } catch {
        case e: Throwable =>
          failReasons.getOrElseUpdate(name, Json.rootCause(e))
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    // four interleaved passes over the whole suite, min per query:
    // the host's stall windows span several consecutive executions,
    // so back-to-back repeats of one query can all be hit — passes
    // minutes apart are not
    // pass count: 4 by default (the driver's steady-state contract);
    // soak runs at 100× data dial it down via SPARK_GRAFT_PASSES
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_PASSES", "4").toInt
    // host-drift sentinel (r10 verdict task 4): a pinned CPU kernel
    // timed immediately before and after the measured window, so the
    // artifact itself says whether it was taken inside one of the
    // host's documented slow windows — no alternating-binary bisect
    val sentinelBefore = Sentinel.seconds()
    // shuffle/spill bytes are measured on the first pass only (they
    // are deterministic per query; listener events arrive async, so
    // each measured window is bracketed by a DETERMINISTIC bus drain
    // — a fixed sleep could bleed one query's stage bytes into the
    // next query's bucket on a slow bus)
    val shufByQuery = scala.collection.mutable.Map[String, Long]()
    val spillByQuery = scala.collection.mutable.Map[String, Long]()
    val storagePeakByQuery = scala.collection.mutable.Map[String, Long]()
    def drainBus(): Unit =
      org.apache.spark.GraftListenerGlue.drain(spark.sparkContext)
    val passes = (0 until nPasses).map { p =>
      queries.map { case (name, fn) =>
        if (metricsOn && p == 0) {
          drainBus(); shufBytes.set(0L); spillBytes.set(0L)
          // per-query peak starts from the CURRENT live footprint
          // (caches the previous query failed to release still count)
          storagePeak.set(storageNow.get())
          val t = timeOnce(name, fn)
          drainBus()
          shufByQuery(name) = shufBytes.get(); spillByQuery(name) = spillBytes.get()
          storagePeakByQuery(name) = storagePeak.get()
          name -> t
        } else name -> timeOnce(name, fn)
      }
    }
    val results = queries.keys.map { name =>
      // min over SUCCESSFUL passes only: a failure (e.g. a dying
      // context taking out the tail of a pass) must not clobber a
      // good measurement from another pass; -1 only if every pass
      // failed
      val ok = passes.map(_(name)).filter(_ >= 0)
      name -> (if (ok.nonEmpty) ok.min else -1.0)
    }.toMap
    // 3-decimal per-query values (ms precision — far inside the ±10–20%
    // single-run noise band): full-precision doubles made the one-line
    // JSON ~12 KB, which is what truncated the r11 tail capture and
    // cost r12 its automated PERF comparison (VERDICT r12 item 4).
    // Formatting only; the measured values are unchanged.
    def fmt3(v: Double): String = f"$v%.3f"
    val qs = results.map { case (k, v) => Json.str(k) + ":" + fmt3(v) }
      .mkString("{", ",", "}")
    // explicit failure accounting (ADVICE r5): -1.0 entries summarized
    // so the artifact is self-describing even if the log tail truncates
    val failed = results.collect { case (k, v) if v < 0 => k }.toSeq.sorted
    val failedJson = failed.map(Json.str).mkString("[", ",", "]")
    val errorsJson =
      if (failReasons.isEmpty) ""
      else failReasons.toSeq.sortBy(_._1)
        .map { case (k, v) => Json.str(k) + ":" + Json.str(v) }
        .mkString(""","errors":{""", ",", "}")
    val total = if (results.nonEmpty) results.values.filter(_ >= 0).sum else 0.0
    val metricsJson = if (metricsOn) {
      val sh = shufByQuery.toSeq.sortBy(_._1)
        .map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
      val sp = spillByQuery.toSeq.sortBy(_._1)
        .map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
      val st = storagePeakByQuery.toSeq.sortBy(_._1)
        .map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
      s""","shuffle_bytes":$sh,"spill_bytes":$sp,"storage_peak_bytes":$st"""
    } else ""
    val sentinelAfter = Sentinel.seconds()
    val sentinelJson = f""","sentinel_before_s":$sentinelBefore%.3f,"sentinel_after_s":$sentinelAfter%.3f,"sentinel_nominal_s":${Sentinel.NominalS}%.3f"""
    val line = s"""{"metric":"total","value":${fmt3(total)},"unit":"sec","queries":$qs,"failed_count":${failed.size},"failed":$failedJson$errorsJson$metricsJson$sentinelJson,"sf":${Json.str(sfDir)}}"""
    println(line)
    // self-written complete artifact: the driver's log capture
    // truncates the tail, so the full per-query map is also committed
    // from here (ADVICE r5 / VERDICT r6 item 5); best-effort — the
    // stdout line stays the contract
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/BENCH_FULL_latest.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case _: Throwable => () }
    spark.stop()
  }
}
