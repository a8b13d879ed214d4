package chillbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs with the column contract `graft.Tables`
  * validates (a TPC-H-like star plus an `events` feed). Every value is
  * a hash of (seed, row id, salt), so the same seed gives the same
  * tables and another seed gives other values at the same sizes: the
  * benchmark's timings compare like with like across seeds.
  */
final class Inputs(spark: SparkSession, seed: Long) {

  /** Uniform long in [0, n) for row `id`, independent per `salt`. */
  def draw(id: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(lit(seed), id, lit(salt)), lit(n))

  private def pick(id: Column, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (draw(id, salt, values.size) + 1).cast("int"))

  private def range(n: Long): DataFrame = spark.range(1, n + 1).toDF("id")

  val EventTypes: Seq[String] = Seq("click", "view", "purchase", "login", "error")

  /** Midnight of the first feed day; `days` days follow. */
  val FeedStart: String = "2024-01-01 00:00:00"

  /** `n` events over `days` days: unique `event_id`, 2-decimal `value`. */
  def events(n: Long, days: Int, users: Long = 2000): DataFrame = {
    val id = col("id")
    range(n).select(
      id.as("event_id"),
      (draw(id, 1, users) + 1).as("user_id"),
      pick(id, 2, EventTypes).as("event_type"),
      (draw(id, 3, 100000) / 100.0).as("value"),
      (unix_timestamp(lit(FeedStart)) + draw(id, 4, days * 86400L))
        .cast("timestamp").as("ts"),
      to_json(struct(draw(id, 5, 100).cast("int").as("k"))).as("props"))
  }

  /** The star schema at `orders` orders (lineitem ≈ 4 × orders). */
  def star(orders: Long): Map[String, DataFrame] = {
    val id = col("id")
    val nParts = math.max(200L, orders / 8)
    val nSupp = math.max(20L, orders / 150)
    val nCust = math.max(100L, orders / 10)
    val region = range(5).select((id - 1).cast("int").as("r_regionkey"),
      concat(lit("REGION"), id).as("r_name"))
    val nation = range(25).select((id - 1).cast("int").as("n_nationkey"),
      concat(lit("NATION"), id).as("n_name"), (pmod(id, lit(5))).cast("int").as("n_regionkey"))
    val customer = range(nCust).select(id.as("c_custkey"),
      concat(lit("Customer#"), id).as("c_name"), draw(id, 11, 25).cast("int").as("c_nationkey"),
      ((draw(id, 12, 1100000) - 100000) / 100.0).as("c_acctbal"),
      pick(id, 13, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment"))
    val supplier = range(nSupp).select(id.as("s_suppkey"),
      concat(lit("Supplier#"), id).as("s_name"), draw(id, 21, 25).cast("int").as("s_nationkey"),
      ((draw(id, 22, 1100000) - 100000) / 100.0).as("s_acctbal"))
    val part = range(nParts).select(id.as("p_partkey"),
      concat(lit("part "), id).as("p_name"),
      concat(lit("Brand#"), draw(id, 31, 5) + 1, draw(id, 32, 5) + 1).as("p_brand"),
      pick(id, 33, Seq("STANDARD BRASS", "SMALL COPPER", "MEDIUM TIN", "LARGE STEEL")).as("p_type"),
      (draw(id, 34, 50) + 1).cast("int").as("p_size"),
      ((draw(id, 35, 100000) + 90000) / 100.0).as("p_retailprice"))
    val ord = range(orders).select(id.as("o_orderkey"),
      // a few customer keys past the table: referential orphans
      (draw(id, 41, nCust + nCust / 50) + 1).as("o_custkey"),
      pick(id, 42, Seq("F", "O", "P")).as("o_orderstatus"),
      ((draw(id, 43, 40000000) + 100000) / 100.0).as("o_totalprice"),
      date_add(lit("1995-01-01").cast("date"), draw(id, 44, 2000).cast("int")).as("o_orderdate"),
      pick(id, 45, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    val lines = ord.select(col("o_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), (draw(col("o_orderkey"), 50, 7) + 1).cast("int")))
          .as("l_linenumber"))
      .withColumn("rid", col("o_orderkey") * 8 + col("l_linenumber"))
    val rid = col("rid")
    val lineitem = lines.select(
      col("o_orderkey").as("l_orderkey"),
      (draw(rid, 51, nParts) + 1).as("l_partkey"),
      (draw(rid, 52, nSupp) + 1).as("l_suppkey"),
      col("l_linenumber").cast("int").as("l_linenumber"),
      (draw(rid, 53, 50) + 1).cast("double").as("l_quantity"),
      ((draw(rid, 54, 9000000) + 90000) / 100.0).as("l_extendedprice"),
      (draw(rid, 55, 11) / 100.0).as("l_discount"),
      (draw(rid, 56, 9) / 100.0).as("l_tax"),
      pick(rid, 57, Seq("A", "N", "R")).as("l_returnflag"),
      pick(rid, 58, Seq("O", "F")).as("l_linestatus"),
      date_add(col("o_orderdate"), (draw(rid, 59, 120) + 1).cast("int")).as("l_shipdate"),
      pick(rid, 60, Seq("AIR", "MAIL", "RAIL", "SHIP", "TRUCK")).as("l_shipmode"))
    Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> ord, "lineitem" -> lineitem)
  }

  /** Write `tables` as single-file parquet tables under `dir` (the
    * layout `graft.Tables.load` reads) and return the directory.
    */
  def writeTables(dir: String, tables: Map[String, DataFrame]): String = {
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    dir
  }
}

/** Raw-file rendering: one string per output file, written by the
  * executors, so any file count costs a single Spark job.
  */
object RawFiles {

  /** Write (path, content) rows; returns the number of files. */
  def write(spark: SparkSession, files: DataFrame): Long = {
    import spark.implicits._
    val n = spark.sparkContext.longAccumulator("raw_files")
    files.select(col("path"), col("content")).as[(String, String)]
      .foreachPartition { (it: Iterator[(String, String)]) =>
        it.foreach { case (p, c) =>
          val f = new java.io.File(p)
          f.getParentFile.mkdirs()
          java.nio.file.Files.writeString(f.toPath, c)
          n.add(1)
        }
      }
    n.value
  }

  /** Join lines in `order` into one newline-separated body per group. */
  def body(line: Column, order: Column): Column =
    array_join(transform(array_sort(collect_list(struct(order.as("o"), line.as("l")))),
      x => x.getField("l")), "\n")
}
