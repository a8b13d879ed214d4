package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-soak data generator: expands the driver's sf0.1 tables to a
  * larger scale factor so the heavy operator families (dedup,
  * connected components, ANN, text, event analytics) can be soaked
  * beyond the graded sf0.1 — the linearity check for the 100 TB
  * claim.
  *
  * Replica 0 passes the original rows through untouched, so the
  * driver's planted structure (near-dup pairs, label clusters,
  * session shapes) survives at the bigger scale. Replicas 1..N-1 are
  * deterministic hash-perturbed variants:
  *   - documents: ~half the words of each copy are re-drawn from the
  *     corpus vocabulary, keyed on (doc_id, replica, position). That
  *     holds the gram-frequency distribution (same hot vocabulary)
  *     while keeping cross-replica Jaccard far below every dedup
  *     threshold — duplicate DENSITY stays constant as volume grows,
  *     so soak ratios measure plan scaling, not an output explosion
  *     manufactured by the generator.
  *   - embeddings: each component gets a small deterministic jitter;
  *     labels keep their cluster structure.
  *   - events: ids and users shift into fresh ranges, timestamps
  *     stay — per-day volume grows N×, the realistic direction for a
  *     busier feed.
  *
  * Everything is column-function Spark (xxhash64-keyed choices, no
  * rand()), so the output is reproducible run-to-run and the
  * generation itself scales.
  */
object SoakData {
  def main(args: Array[String]): Unit = {
    // args: srcDir outDir mult [mode] [tables] [graphmode]
    //   tables: comma list of {documents,embeddings,events,facts,dims}
    //   (default all). A 1000x decade probe touching only the
    //   documents/events queries need not pay for 600M lineitem rows.
    //   graphmode (facts only): replica (default) keeps the graphs as
    //   `mult` disconnected uniform copies; hub plants a global
    //   Zipf-head supplier (see [[writeFacts]]).
    val (srcDir, outDir, multStr, mode, tables, graphMode) = args match {
      case Array(s, o, m)             => (s, o, m, "closed", "all", "replica")
      case Array(s, o, m, md)         => (s, o, m, md, "all", "replica")
      case Array(s, o, m, md, ts)     => (s, o, m, md, ts, "replica")
      case Array(s, o, m, md, ts, gm) => (s, o, m, md, ts, gm)
    }
    require(mode == "closed" || mode == "heaps",
      s"mode must be closed|heaps, got $mode")
    require(graphMode == "replica" || graphMode == "hub",
      s"graphmode must be replica|hub, got $graphMode")
    val known = Set("documents", "embeddings", "events", "facts", "dims")
    val wanted: String => Boolean =
      if (tables == "all") _ => true
      else {
        val names = tables.split(",").map(_.trim).toSet
        // a typo must fail HERE, not as a PATH_NOT_FOUND hours into
        // the soak that silently skipped the misspelled table
        val unknown = names -- known
        require(unknown.isEmpty,
          s"unknown table(s) ${unknown.mkString(",")}; valid: ${known.mkString(",")} or all")
        names
      }
    val mult = multStr.toInt
    val spark = Session.build()
    nOutFiles = math.min(256, math.max(spark.sparkContext.defaultParallelism, mult))

    if (wanted("documents")) writeDocuments(spark, srcDir, outDir, mult, mode)
    if (wanted("embeddings")) writeEmbeddings(spark, srcDir, outDir, mult)
    if (wanted("events")) writeEvents(spark, srcDir, outDir, mult)
    if (wanted("facts")) writeFacts(spark, srcDir, outDir, mult, graphMode)
    if (wanted("dims")) copyDims(spark, srcDir, outDir)
    spark.stop()
  }

  /** Dimension tables pass through unscaled — the star-schema
    * property: a 10× busier feed joins the same customers/parts.
    * Copying them keeps every query runnable against the soak dir.
    */
  private def copyDims(spark: SparkSession, srcDir: String,
                       outDir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      Tables.load(spark, srcDir, t)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }

  /** Output split count for the scaled fact tables. The driver's
    * testdata ships as ONE parquet file with ONE row group per table
    * — the minimum read-parallelism unit — and a plain write here
    * inherits that (the replica explode preserves partitioning), so a
    * "100×" corpus would still scan as a single task and every
    * compute-heavy kernel pass would serialize: round 6 proved the
    * row-group layout effect on the graded bench, and the round-7
    * sf10 soak measured a 2,319 s single-core IVF wall caused by it.
    * Real cluster inputs are many files × many row groups; a soak
    * that claims to measure 100× behavior must reproduce that, so
    * scaled tables repartition to max(cores, mult) splits (capped)
    * before writing.
    */
  private var nOutFiles: Int = 32

  private def replicas(df: DataFrame, mult: Int): DataFrame =
    // repartition BEFORE the explode: the driver's source tables are
    // single-file parquet (one scan split), so a post-explode
    // repartition puts the whole ×mult explosion — and its shuffle
    // map write — on ONE task (measured: 600 M lineitem rows
    // serializing through 1.5 cores at mult=1000). Pre-partitioning
    // fans the source rows across nOutFiles tasks first; each task
    // explodes its slice in place, no post-explode shuffle exists at
    // all, and the writer still emits nOutFiles files.
    df.repartition(nOutFiles)
      .withColumn("r", explode(sequence(lit(0L), lit(mult - 1L))))

  /** Substituted-word source for the two generator modes:
    *  - `closed` re-draws ~half the words of each copy from the
    *    corpus's own (bounded) vocabulary — the WORST-CASE regime for
    *    posting-list dedup (gram key space fixed while instances
    *    grow), kept as the adversarial soak;
    *  - `heaps` redraws EVERY word of replicas ≥ 1 with rank
    *    `k = ⌊u^(−2)⌋` from an unbounded Zipf-tail vocabulary
    *    (P[K > k] ≈ k^(−1/2)): ~29% of draws hit rank 1 (a hot head
    *    exists, like a real corpus — its stop-gram buckets are what
    *    the df/bucket caps exist for), while the DISTINCT count of
    *    drawn words grows super-√ (measured β ≈ 0.7 — inside Heaps'
    *    published 0.4–0.9 range for natural text). Full substitution
    *    matters: a PARTIAL redraw leaves every replica sharing half
    *    its grams with its original, so 10× volume means every
    *    document's related-family grows 10× — candidate growth that
    *    is real data structure, not plan behavior. Full redraw is the
    *    independent-growth regime the 100 TB question asks about
    *    (10× more documents, same language). Hash-keyed and
    *    reproducible; ranks cap at 1e12 only to bound token length.
    */
  private def writeDocuments(spark: SparkSession, srcDir: String,
                             outDir: String, mult: Int, mode: String): Unit = {
    val docs = Tables.documents(spark, srcDir)
    // corpus vocabulary (bounded: the driver generator draws from a
    // few dozen words) becomes an in-plan literal for substitution
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "").distinct()
      .orderBy("w").collect().map(_.getString(0))
    val vlit = array(vocab.map(lit): _*)
    val idStep = docs.agg(max("doc_id")).head.getLong(0) + 1

    def substituted(i: org.apache.spark.sql.Column) =
      if (mode == "closed")
        element_at(vlit,
          (pmod(xxhash64(lit(7), col("doc_id"), col("r"), i),
            lit(vocab.length)) + 1).cast("int"))
      else {
        val u = (pmod(xxhash64(lit(13), col("doc_id"), col("r"), i),
          lit(1000000000L)).cast("double") + 1.0) / 1.0e9
        concat(lit("w"),
          least(floor(pow(u, lit(-2.0))), lit(1.0e12)).cast("long")
            .cast("string"))
      }
    val keepOriginal = (i: org.apache.spark.sql.Column) =>
      if (mode == "closed")
        pmod(xxhash64(col("doc_id"), col("r"), i), lit(2)) === 0
      else lit(false)
    val out = replicas(docs, mult)
      .withColumn("text",
        when(col("r") === 0, col("text")).otherwise(
          concat_ws(" ", transform(split(col("text"), " "), (w, i) =>
            when(keepOriginal(i), w).otherwise(substituted(i))))))
      .select(
        (col("doc_id") + col("r") * idStep).as("doc_id"),
        col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
    out.write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  private def writeEmbeddings(spark: SparkSession, srcDir: String,
                              outDir: String, mult: Int): Unit = {
    val emb = Tables.embeddings(spark, srcDir)
    val idStep = emb.agg(max("vec_id")).head.getLong(0) + 1
    val out = replicas(emb, mult)
      .withColumn("embedding",
        when(col("r") === 0, col("embedding")).otherwise(
          transform(col("embedding"), (x, i) =>
            (x + (pmod(xxhash64(col("vec_id"), col("r"), i), lit(1001))
              .cast("double") / 500.0 - 1.0) * lit(0.05)).cast("float"))))
      .select(
        (col("vec_id") + col("r") * idStep).as("vec_id"),
        col("embedding"), col("label"))
    out.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  /** Orders + lineitem scaled for the graph-family soak: every key
    * space (order, customer, supplier, part) shifts into a fresh range
    * per replica, so the co-supplier / trading graphs become `mult`
    * disconnected copies of the original — expected work grows exactly
    * linearly, which is the honest reference line for judging whether
    * the pageRank/kCore/triangle PLANS scale linearly too.
    *
    * `graphMode = "hub"` is the adversarial variant the replica mode
    * cannot produce: uniform disconnected copies have no hot node, so
    * they never stress the degree-ordered wedge orientation, the
    * label-majority count, or the gather's partial aggregation under
    * SKEW — exactly where those designs claim to earn their keep. Hub
    * mode re-points line 1 of a deterministic ~20% of ALL orders
    * (hash-keyed on the scaled order key, so selection crosses
    * replicas) at one GLOBAL supplier: that supplier shares ≥ the
    * co-supplier threshold of common orders with essentially every
    * other supplier (each supplier's ~600 orders × 20% ≈ 120 common
    * ≥ 30) and is adjacent to ~20% of all customers in the trading
    * graph — one Zipf-head hub, and through it the graph becomes ONE
    * component at the same byte scale (BFS/label-prop must cross
    * replica boundaries; frontier round 2 is population-sized).
    */
  private def writeFacts(spark: SparkSession, srcDir: String,
                         outDir: String, mult: Int,
                         graphMode: String = "replica"): Unit = {
    val li = Tables.lineitem(spark, srcDir)
    val ord = Tables.orders(spark, srcDir)
    val Array(maxOrder, maxCust) = ord.agg(max("o_orderkey"), max("o_custkey"))
      .head.toSeq.map(_.asInstanceOf[Long] + 1).toArray
    val Array(maxSupp, maxPart) = li.agg(max("l_suppkey"), max("l_partkey"))
      .head.toSeq.map(_.asInstanceOf[Long] + 1).toArray
    replicas(ord, mult)
      .select(
        (col("o_orderkey") + col("r") * maxOrder).as("o_orderkey"),
        (col("o_custkey") + col("r") * maxCust).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    val scaledKey = col("l_orderkey") + col("r") * maxOrder
    val shiftedSupp = (col("l_suppkey") + col("r") * maxSupp).as("l_suppkey")
    val suppCol =
      if (graphMode == "hub")
        when(pmod(xxhash64(lit(31), scaledKey), lit(5)) === 0 &&
          col("l_linenumber") === 1, lit(1L)).otherwise(shiftedSupp)
          .as("l_suppkey")
      else shiftedSupp
    replicas(li, mult)
      .select(
        scaledKey.as("l_orderkey"),
        (col("l_partkey") + col("r") * maxPart).as("l_partkey"),
        suppCol,
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
  }

  private def writeEvents(spark: SparkSession, srcDir: String,
                          outDir: String, mult: Int): Unit = {
    // keep ts in whatever encoding the driver files carry (raw nanos
    // long or timestamp), so Tables.eventsRaw reads soak output
    // exactly like driver output
    val ev = Tables.eventsRaw(spark, srcDir)
    val Array(maxE, maxU) = ev.agg(max("event_id"), max("user_id"))
      .head.toSeq.map(_.asInstanceOf[Long] + 1).toArray
    val out = replicas(ev, mult)
      .select(
        (col("event_id") + col("r") * maxE).as("event_id"),
        col("ts"),
        (col("user_id") + col("r") * maxU).as("user_id"),
        col("event_type"), col("value"), col("props"))
    out.write.mode("overwrite").parquet(s"$outDir/events.parquet")
  }
}
