package chillbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up a workload, run its operations back to
  * back (one client, one operation in flight) for the given seconds,
  * check each, and print the metrics. Usage:
  *
  * {{{
  * chillbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--corrupt]
  * }}}
  *
  * `--corrupt` alters the warehouse after every operation; the run must
  * then report every operation as failed.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, corrupt: Boolean)

  private final case class Done(wallS: Double, out: OpOut, layers: Map[String, LayerStats])

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--work"), args.contains("--corrupt"))
  }

  def session(work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("chillbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16384")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Root cause class, message and top frames, as `graft.Bench` records them. */
  def reason(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    (c.getClass.getSimpleName + ": " + String.valueOf(c.getMessage) + " @ " +
      c.getStackTrace.take(4).mkString(" <- ")).replaceAll("\\s+", " ").take(600)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sentinelBefore = graft.Sentinel.seconds()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = session(o.work, cores)
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val wl = Workload(o.workload, Ctx(spark, o.seed, o.work, Spans(tracer)))

    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    def attempt(i: Int): Option[Done] = {
      attempted += 1
      try {
        wl.prepare(i)
        tracer.foreach(_.beginOp())
        val t0 = System.nanoTime()
        val out = wl.op(i)
        val wallS = (System.nanoTime() - t0) / 1e9
        val layers = tracer.map(_.endOp()).getOrElse(Map.empty)
        if (o.corrupt) wl.corrupt()
        wl.check()
        Some(Done(wallS, out, layers))
      } catch {
        case NonFatal(e) =>
          failures += s"op $i: ${reason(e)}"
          None
      }
    }

    val tSession = System.currentTimeMillis()
    wl.setup()
    val tInputs = System.currentTimeMillis()
    attempt(0)
    val tWarm = System.currentTimeMillis()
    // from JVM start to the first timed operation, the drift kernel excluded
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0 - sentinelBefore
    val done = mutable.ArrayBuffer.empty[Done]
    val loop0 = System.nanoTime()
    var i = 1
    // stop before an operation that would likely end past the window
    def elapsed = (System.nanoTime() - loop0) / 1e9
    while (done.isEmpty && i <= 3 || elapsed * i / (i - 1) <= o.seconds) {
      attempt(i).foreach(done += _)
      i += 1
    }
    val measuredS = (System.nanoTime() - loop0) / 1e9
    val sentinelAfter = graft.Sentinel.seconds()

    val walls = done.map(_.wallS).toSeq
    val queryMs = done.flatMap(d =>
      if (d.out.queryMs.nonEmpty) d.out.queryMs.map(_._2) else Seq(d.wallS * 1e3)).toSeq
    val (whFiles, whBytes) = Workload.dataFiles(wl.warehouse)
    val endToEnd = Seq(
      "setup_s" -> setupS,
      "cycle_s" -> Stats.median(walls),
      "rows_per_s" -> Stats.median(done.map(d => d.out.rows / d.wallS).toSeq),
      "query_ms_p50" -> Stats.quantile(queryMs, 0.5),
      "query_ms_p90" -> Stats.quantile(queryMs, 0.9),
      "warehouse_files" -> whFiles.toDouble,
      "write_amp" -> whBytes.toDouble / math.max(1L, wl.inputBytes))
    val units = Map("setup_s" -> "s", "cycle_s" -> "s", "rows_per_s" -> "rows/s",
      "query_ms_p50" -> "ms", "query_ms_p90" -> "ms", "warehouse_files" -> "count",
      "write_amp" -> "ratio")
    val perLayer = Layer.metrics.flatMap { case (layer, ms) =>
      ms.map { m =>
        val perOp = done.map(d => d.layers.get(layer).map(Layer.value(_, m, cores)).getOrElse(0.0))
        val v = m match {
          case "batch_ms_p50" =>
            Stats.median(done.flatMap(_.layers.get(layer).toSeq.flatMap(_.batchMs)).toSeq)
          case _ => Stats.median(perOp.toSeq)
        }
        s"$layer.$m" -> v
      }
    }

    def metricJson(kv: Seq[(String, Double)], unit: String => String) =
      Json.obj(kv.map { case (k, v) => k -> Json.obj(Seq("value" -> v, "unit" -> unit(k))) })
    val failedRatio = failures.size.toDouble / attempted
    val report = Json.obj(Seq(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "session" -> Json.obj(Seq("master" -> s"local[$cores]", "shuffle_partitions" -> cores,
        "driver_max_heap_bytes" -> Runtime.getRuntime.maxMemory)),
      "inputs" -> Json.obj(wl.describe.toSeq.sortBy(_._1)),
      "timed_ops" -> done.size, "measured_s" -> measuredS,
      "op_walls_s" -> Json.arr(walls),
      "query_samples" -> queryMs.size,
      "query_ms" -> Json.arr(done.toSeq.map(d => Json.obj(d.out.queryMs))),
      "ops_failed_ratio" -> failedRatio,
      "failures" -> Json.arr(failures.toSeq),
      "sentinel_before_s" -> sentinelBefore, "sentinel_after_s" -> sentinelAfter,
      "sentinel_nominal_s" -> graft.Sentinel.NominalS,
      "setup_parts_s" -> Json.obj(Seq(
        "jvm_and_session" -> ((tSession - jvmStartMs) / 1000.0 - sentinelBefore),
        "inputs" -> (tInputs - tSession) / 1000.0, "warm_up_op" -> (tWarm - tInputs) / 1000.0)),
      "end_to_end" -> metricJson(endToEnd, units),
      "per_layer" -> metricJson(perLayer, Layer.unit)))
    println(s"chillbench report $report")
    val metrics =
      if (o.trace) metricJson(perLayer, Layer.unit) else metricJson(endToEnd, units)
    println(Json.obj(Seq("correct" -> failures.isEmpty, "attempted" -> attempted,
      "failed" -> failures.size, "metrics" -> metrics)))
    spark.stop()
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case r: Raw => r.s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))

  def arr(xs: Seq[Any]): Raw = Raw(xs.map(value).mkString("[", ",", "]"))
}
