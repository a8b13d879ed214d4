package chillbench

import scala.collection.mutable

import org.apache.spark.{GraftListenerGlue, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters of one operation; `Layer.metrics` names them. */
final class LayerStats {
  var wallMs, idleMs, buildMs = 0.0
  var jobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuMs, gcMs, planMs = 0.0
  var inputBytes, shuffleWriteBytes, spillBytes, outputBytes, filesWritten = 0L
  val batchMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
}

/** The layers the benchmark times, named after the modules it calls,
  * and the counters reported for each. Counters that are zero by
  * construction are left out: `reconcile` only builds lazy frames,
  * and `parse`, `readback` and `report` write nothing.
  */
object Layer {
  val Full: Seq[String] = Seq("wall_ms", "idle_ms", "jobs", "stages", "tasks",
    "task_run_ms", "task_cpu_ms", "gc_ms", "util", "plan_ms", "input_bytes",
    "shuffle_write_bytes", "spill_bytes", "output_bytes", "files_written", "failed_tasks")
  private val ReadOnly = Full.filterNot(Set("output_bytes", "files_written"))

  val metrics: Seq[(String, Seq[String])] = Seq(
    "parse" -> ReadOnly,
    "load" -> Full,
    "readback" -> ReadOnly,
    "reconcile" -> Seq("wall_ms", "idle_ms", "jobs", "plan_ms"),
    "report" -> ReadOnly,
    "stream" -> (Full ++ Seq("batches", "batch_ms_p50")),
    "rollup" -> Full,
    "query" -> (Full :+ "build_ms"))

  def unit(metric: String): String = metric.split('.').last match {
    case m if m.endsWith("_ms") || m == "batch_ms_p50" => "ms"
    case m if m.endsWith("_bytes") => "bytes"
    case "util" => "ratio"
    case _ => "count"
  }

  def value(s: LayerStats, metric: String, cores: Int): Double = metric match {
    case "wall_ms" => s.wallMs
    case "idle_ms" => s.idleMs
    case "jobs" => s.jobs.toDouble
    case "stages" => s.stages.toDouble
    case "tasks" => s.tasks.toDouble
    case "task_run_ms" => s.taskRunMs
    case "task_cpu_ms" => s.taskCpuMs
    case "gc_ms" => s.gcMs
    case "util" => if (s.wallMs > 0) s.taskRunMs / (s.wallMs * cores) else 0.0
    case "plan_ms" => s.planMs
    case "input_bytes" => s.inputBytes.toDouble
    case "shuffle_write_bytes" => s.shuffleWriteBytes.toDouble
    case "spill_bytes" => s.spillBytes.toDouble
    case "output_bytes" => s.outputBytes.toDouble
    case "files_written" => s.filesWritten.toDouble
    case "failed_tasks" => s.failedTasks.toDouble
    case "batches" => s.batchMs.size.toDouble
    case "batch_ms_p50" => Stats.median(s.batchMs.toSeq)
    case "build_ms" => s.buildMs
  }
}

/** Spans around the benchmark's calls into the library, with Spark's
  * own listeners attributing work to the open span.
  *
  * Jobs carry the span name as the local property [[Prop]], which
  * Spark copies into every job it starts from the calling thread (and
  * into the streaming query thread started inside the span). Query-
  * execution and streaming-progress events carry no properties; the
  * bus is drained when a span opens and before it closes, so every
  * such event delivered in between belongs to the open span.
  */
final class Tracer(spark: SparkSession) {
  val Prop = "chillbench.span"
  private val sc = spark.sparkContext

  private var op = mutable.Map.empty[String, LayerStats]
  @volatile private var open: String = null
  private val stageLayer = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobLayer = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  /** (layer, start ms, end ms) of every job ended in this operation */
  private val jobSpans = mutable.ArrayBuffer.empty[(String, Long, Long)]

  private def stats(layer: String): LayerStats = synchronized(op.getOrElseUpdate(layer, new LayerStats))

  private def drain(): Unit = GraftListenerGlue.drain(sc)

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).foreach { layer =>
        jobLayer.put(e.jobId, (layer, e.time))
        e.stageIds.foreach(stageLayer.put(_, layer))
        Tracer.this.synchronized(stats(layer).jobs += 1)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobLayer.remove(e.jobId)).foreach { case (layer, start) =>
        Tracer.this.synchronized(jobSpans += ((layer, start, e.time)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageLayer.get(e.stageInfo.stageId)).foreach { layer =>
        Tracer.this.synchronized(stats(layer).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageLayer.get(e.stageId)).foreach { layer =>
        Tracer.this.synchronized {
          val s = stats(layer)
          s.tasks += 1
          if (e.reason != Success) s.failedTasks += 1
          val m = e.taskMetrics
          if (m != null) {
            s.taskRunMs += m.executorRunTime
            s.taskCpuMs += m.executorCpuTime / 1e6
            s.gcMs += m.jvmGCTime
            s.inputBytes += m.inputMetrics.bytesRead
            s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            s.spillBytes += m.diskBytesSpilled
            s.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Option(open).foreach { layer =>
        val planMs = Seq("analysis", "optimization", "planning")
          .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
        val files = Tracer.filesWritten(qe.executedPlan)
        Tracer.this.synchronized {
          stats(layer).planMs += planMs
          stats(layer).filesWritten += files
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(open).foreach { layer =>
        if (e.progress.numInputRows > 0) Tracer.this.synchronized {
          stats(layer).batchMs += e.progress.batchDuration.toDouble
        }
      }
  })

  /** Start a new operation's counters. */
  def beginOp(): Unit = { drain(); synchronized { op = mutable.Map.empty; jobSpans.clear() } }

  /** The finished operation's counters by layer. */
  def endOp(): Map[String, LayerStats] = { drain(); synchronized(op.toMap) }

  /** Time `body` as one span of `layer`. */
  def span[T](layer: String)(body: => T): T = {
    drain()
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, layer)
    open = layer
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally {
      drain()
      val wallMs = (System.nanoTime() - n0) / 1e6
      val t1 = System.currentTimeMillis()
      open = prev
      sc.setLocalProperty(Prop, prev)
      synchronized {
        val busy = Stats.unionLength(jobSpans.collect {
          case (l, a, b) if l == layer => (math.max(a, t0), math.min(b, t1))
        }.toSeq)
        val s = stats(layer)
        s.wallMs += wallMs
        s.idleMs += math.max(0.0, wallMs - busy)
      }
    }
  }

  /** Add driver-side build time to `layer` (query builder calls). */
  def addBuildMs(layer: String, ms: Double): Unit = synchronized(stats(layer).buildMs += ms)
}

object Tracer extends AdaptiveSparkPlanHelper {
  /** Files written by the write commands of an executed plan. */
  def filesWritten(plan: SparkPlan): Long = collect(plan) {
    case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case c: CommandResultExec => filesWritten(c.commandPhysicalPlan)
  }.sum
}

/** Optional tracer: the untraced run pays nothing for it. */
final case class Spans(tracer: Option[Tracer]) {
  def apply[T](layer: String)(body: => T): T = tracer match {
    case Some(t) => t.span(layer)(body)
    case None => body
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Total length of the union of closed intervals [a, b]. */
  def unionLength(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curA, curB = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }
}
