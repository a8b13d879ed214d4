package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-job profiler for a single query: runs one warmup pass, then a
  * measured pass with a listener that records every job's wall, stage
  * count, task count, and shuffle bytes — the measurement tool behind
  * OPTIMIZATION_r12's "where does the wall go" numbers. Runs on the
  * shared [[Session]], like Bench, so the walls are comparable at
  * equal `SPARK_GRAFT_CPUS`.
  * Usage: runMain graft.Profile <sfDir> <query>[,<query>...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args
    val spark = Session.build()
    case class Job(id: Int, desc: String, t0: Long) {
      var t1: Long = 0L
      var stages = 0
      var tasks = 0
      var shuffleWrite = 0L
      var inputBytes = 0L
    }
    case class Stg(name: String) {
      var n = 0
      var tasks = 0
      var wallMs = 0L
      var taskMs = 0L
      var cpuMs = 0L
      var gcMs = 0L
      var deserMs = 0L
      var shufMB = 0.0
      var inMB = 0.0
    }
    val jobs = mutable.LinkedHashMap[Int, Job]()
    val stages = mutable.LinkedHashMap[String, Stg]()
    val stageToJob = mutable.Map[Int, Int]()
    @volatile var recording = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
        val desc = Option(e.properties)
          .map(_.getProperty("spark.job.description", "")).getOrElse("")
        jobs.synchronized {
          jobs(e.jobId) = Job(e.jobId, desc, System.nanoTime())
          e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (recording) {
        jobs.synchronized { jobs.get(e.jobId).foreach(_.t1 = System.nanoTime()) }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (recording) jobs.synchronized {
          val si = e.stageInfo
          stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
            j.stages += 1
            j.tasks += si.numTasks
            val m = si.taskMetrics
            if (m != null) {
              j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
              j.inputBytes += m.inputMetrics.bytesRead
            }
          }
          val key = s"${si.stageId}:${si.name}"
          val s = stages.getOrElseUpdate(key, Stg(key))
          s.n += 1
          s.tasks += si.numTasks
          for (t0 <- si.submissionTime; t1 <- si.completionTime)
            s.wallMs += t1 - t0
          val m = si.taskMetrics
          if (m != null) {
            s.taskMs += m.executorRunTime
            s.cpuMs += m.executorCpuTime / 1000000L
            s.gcMs += m.jvmGCTime
            s.deserMs += m.executorDeserializeTime
            s.shufMB += m.shuffleWriteMetrics.bytesWritten / 1e6
            s.inMB += m.inputMetrics.bytesRead / 1e6
          }
        }
    })
    Tables.validate(spark, sfDir)
    names.split(",").foreach { name =>
      val fn = SparkEntry.queries(name)
      // warmup (codegen + page cache), like Bench's warmup pass
      fn(spark, sfDir).count()
      fn(spark, sfDir).count()
      jobs.clear(); stageToJob.clear(); stages.clear()
      recording = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      recording = false
      Thread.sleep(300) // let listener events drain
      println(f"%n=== $name total ${wall}%.3f s ===")
      println(f"${"job"}%4s ${"wall_s"}%8s ${"stg"}%4s ${"tasks"}%6s ${"shufMB"}%8s ${"inMB"}%8s  desc")
      jobs.synchronized {
        jobs.values.foreach { j =>
          val w = if (j.t1 > 0) (j.t1 - j.t0) / 1e9 else -1.0
          println(f"${j.id}%4d ${w}%8.3f ${j.stages}%4d ${j.tasks}%6d ${j.shuffleWrite / 1e6}%8.2f ${j.inputBytes / 1e6}%8.2f  ${j.desc.take(60)}")
        }
        val sum = jobs.values.map(j => if (j.t1 > 0) (j.t1 - j.t0) / 1e9 else 0.0).sum
        println(f"job-sum ${sum}%.3f s (gap = ${wall - sum}%.3f s driver/planning)")
        println(f"%n${"wall_ms"}%8s ${"task_ms"}%8s ${"cpu_ms"}%8s ${"gc_ms"}%6s ${"deser"}%6s ${"tasks"}%6s ${"shufMB"}%8s ${"inMB"}%8s  stage")
        stages.values.toSeq.sortBy(-_.wallMs).foreach { s =>
          println(f"${s.wallMs}%8d ${s.taskMs}%8d ${s.cpuMs}%8d ${s.gcMs}%6d ${s.deserMs}%6d ${s.tasks}%6d ${s.shufMB}%8.2f ${s.inMB}%8.2f  ${s.name.take(80)}")
        }
      }
    }
    spark.stop()
  }
}
