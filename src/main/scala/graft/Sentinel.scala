package graft

/** Pinned CPU calibration kernel for bench/soak artifacts.
  *
  * The build host exhibits multi-minute windows of ~2-7x CPU slowdown
  * external to the JVM (BENCH_NOTES_r9/r10 measured them by manual
  * alternating-binary bisects — a full day of adjudication in round
  * 10). Running this fixed kernel immediately before and after a
  * measured run and recording both walls in the artifact makes every
  * artifact self-adjudicating: the kernel is single-threaded,
  * allocation-free, input-independent integer hashing, so its wall
  * moves ONLY with the host's effective CPU speed — a reading far
  * above [[NominalS]] marks the measurement as taken inside a slow
  * window, no binary re-runs needed.
  */
object Sentinel {

  /** Kernel wall on this host class outside slow windows (measured at
    * introduction, round 11). Artifacts record raw seconds; readers
    * divide by this to get the drift factor.
    */
  val NominalS: Double = 1.4 // measured 1.37-1.42 at introduction

  /** Iteration count giving ~[[NominalS]] on a quiet host. */
  private val Iters = 170000000L

  /** Run the kernel once, return its wall in seconds. */
  def seconds(): Double = {
    val t0 = System.nanoTime()
    var h = 42L
    var i = 0L
    while (i < Iters) {
      h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(h ^ i, i)
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    // fold the result into the return so the loop cannot be elided
    if (h == 0L) dt + 1e-12 else dt
  }

  /** Standalone runner (`tools/jrun.sh graft.Sentinel [n]`): prints n
    * kernel walls, one per line — the quick manual probe for "is the
    * host in a slow window right now".
    */
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 3
    (1 to n).foreach(_ => println(f"${seconds()}%.3f"))
  }
}
