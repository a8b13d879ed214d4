package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.build()
    // µs parquet timestamps so DuckDB reads the same instants back
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    new java.io.File(outDir).mkdirs()
    // fail fast, in ONE place, if the driver regenerated testdata with
    // a schema this build doesn't accept (round-5 lesson)
    Tables.validate(spark, sfDir)
    // optional subset filter for isolating queries (same contract as
    // Bench): SPARK_GRAFT_ONLY=q_a,q_b — the driver sets nothing and
    // gets the full dump
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures(name) = Json.rootCause(e)
        System.err.println(s"[verify] $name failed: ${failures(name)}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // self-describing artifact: a query that threw is recorded here, so
    // the correctness dump never silently shrinks (ADVICE r5)
    val errJson = failures
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} of ${SparkEntry.queries.size} queries FAILED: ${failures.keys.mkString(",")}")
    spark.stop()
  }
}

/** Print one query's generated oracle SQL (no Spark session) — the
  * quick way to eyeball or DuckDB-test a generated oracle without a
  * full Verify dump: `tools/jrun.sh graft.OracleDump q_dedup_minhash`.
  */
object OracleDump {
  def main(args: Array[String]): Unit =
    args.foreach(q => println(SparkEntry.oracleSql(q)))
}
