package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured: every main and the
  * test suite build their session here, so the SQL semantics and the
  * aggregation guard below cannot drift between what the tests check,
  * what Verify dumps and what the benches and soaks measure.
  */
object Session {

  /** A `local[cores]` session; mains take `cores` from
    * `SPARK_GRAFT_CPUS` (default 4). Shuffle width defaults to the thread
    * count (right at graded scales); 100× soaks raise it through
    * `SPARK_GRAFT_SHUFFLE` so per-partition sorts stay spill-friendly —
    * the local-mode analogue of sizing partitions to executor memory at
    * cluster scale. Non-ANSI: fingerprint and rolling-hash arithmetic
    * relies on wrap-around.
    */
  def build(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cores.toString))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      // typed-aggregate scale guard: ObjectHashAggregate falls back to
      // SORT-based aggregation after only 128 in-memory keys (the
      // Spark default) — for small-state aggregates like the top-k
      // heaps that is a catastrophic cliff (the 100x soak measured the
      // kNN-graph top-k stage sorting ~300M scored rows instead of
      // heap-folding them). 16k keys covers every per-task key density
      // in the suite while bounding the map even for the BIG-state
      // aggregates (HyperBall's 4KB HLL registers: 16k x 4KB = 64MB
      // per task — a 256k threshold OOM'd exactly there; states
      // beyond the threshold degrade gracefully to the sort path)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16384")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
