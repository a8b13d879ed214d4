package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  // a fixed width, not SPARK_GRAFT_CPUS: the specs' plan shapes and
  // partition counts must not depend on the host's core count
  lazy val spark: SparkSession = Session.build(4)
  val sf = "/root/testdata/sf0.001"

  /** Runs `body` with `spark.sql.files.maxPartitionBytes` = `maxBytes`
    * and a zero open cost, so files longer than `maxBytes` split.
    */
  def withSplitSize[T](maxBytes: Long)(body: => T): T = {
    val keys = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    val prev = keys.map(spark.conf.get)
    try {
      spark.conf.set(keys(0), maxBytes.toString)
      spark.conf.set(keys(1), "0")
      body
    } finally keys.zip(prev).foreach { case (k, v) => spark.conf.set(k, v) }
  }
}

/** Smoke + semantic specs for every SparkEntry query at sf0.001. */
class OperatorsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("entry survives a driver session with ANSI on (Spark 4 default)") {
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try assert(SparkEntry.entry(spark).count() > 0)
    finally spark.conf.set("spark.sql.ansi.enabled", "false")
  }

  test("every query runs and most return rows") {
    val counts = SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, sf).count()
    }
    val empty = counts.filter(_._2 == 0).keys.toSeq
      .filterNot(Set("q_recon_missing")) // legitimately may be empty
    assert(empty.isEmpty, s"unexpected empty results: $empty")
  }

  test("oracleSql keys are a subset of queries") {
    val extra = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(extra.isEmpty, s"oracleSql without query impl: $extra")
  }

  test("full cascade: every granularity equals its direct-from-raw rollup") {
    val ev = Tables.events(spark, sf)
    val levels = operators.Rollups.cascade(ev)
    Seq("15M" -> 900, "HH" -> 3600, "DY" -> 86400).foreach { case (sfx, secs) =>
      val direct = operators.Rollups.perType(ev, secs)
      val c = levels(sfx)
      assert(c.exceptAll(direct).isEmpty && direct.exceptAll(c).isEmpty,
        s"cascade level $sfx diverges from the direct rollup")
    }
  }

  test("rollup cascade is exact: hourly from 5m equals hourly from raw") {
    val ev = Tables.events(spark, sf)
    val cascaded = operators.Rollups.hourlyFromFiveMinute(operators.Rollups.fiveMinute(ev))
    val direct = ev.groupBy(
        (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long").as("bucket_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("sum_value"))
    assert(cascaded.exceptAll(direct).isEmpty && direct.exceptAll(cascaded).isEmpty)
  }

  test("histogram sketch cascade is bit-identical to the direct daily histogram") {
    val ev = Tables.events(spark, sf)
    val cascaded = operators.Rollups.coarsenHist(
      operators.Rollups.histSketchPerType(ev, 300, 0.0, 10.0, 50), 86400)
    val direct = operators.Rollups.histSketchPerType(ev, 86400, 0.0, 10.0, 50)
    assert(cascaded.exceptAll(direct).isEmpty && direct.exceptAll(cascaded).isEmpty,
      "integer counts must re-aggregate exactly")
  }

  test("histogram quantile estimate shares a bucket with the true rank-floor value") {
    val ev = Tables.events(spark, sf)
    val est = operators.Rollups.histQuantiles(
      operators.Rollups.histSketchPerType(ev, 86400, 0.0, 10.0, 50),
      Seq("bucket_start", "event_type"), 0.0, 10.0, Seq(0.5, 0.95)).collect()
    assert(est.nonEmpty)
    // the estimate's bucket contains index floor((total-1)p) of the
    // sorted values, so |est - value@floor(r)| <= one bucket width
    // (quantile_cont itself interpolates ACROSS ranks and carries no
    // such bound on sparse groups)
    val sorted = ev.groupBy(
        (floor(unix_timestamp(col("ts")) / 86400) * 86400).cast("long").as("bucket_start"),
        col("event_type"))
      .agg(sort_array(collect_list(col("value"))).as("vs"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getSeq[Double](2))
      .toMap
    est.foreach { r =>
      val vs = sorted((r.getLong(0), r.getString(1)))
      val p = r.getAs[Double]("p")
      val v = vs(math.floor((vs.length - 1) * p).toInt)
      val e = r.getAs[Double]("est")
      assert(math.abs(e - v) <= 10.0,
        s"estimate $e vs rank-floor value $v beyond one bucket width: $r")
    }
  }

  test("deleteReload replaces whole buckets idempotently") {
    val ev = Tables.events(spark, sf).withColumn("day", to_date(col("ts")))
      .select("event_id", "day", "value")
    val inc = ev.filter(col("event_id") < 100).withColumn("value", col("value") * 2)
    val out = operators.Maintenance.deleteReload(ev, inc, "day")
    // every day present in inc must contain only inc rows
    val incDays = inc.select("day").distinct()
    val replaced = out.join(incDays, Seq("day"), "left_semi")
    assert(replaced.count() == inc.count())
    // applying the same reload twice is a no-op
    val out2 = operators.Maintenance.deleteReload(out, inc, "day")
    assert(out2.exceptAll(out).isEmpty && out.exceptAll(out2).isEmpty)
  }

  test("ivf_best_cells kernel equals the HOF ranked-cells reference " +
    "(assignment and probe lists, element-for-element)") {
    val emb = Tables.embeddings(spark, sf)
    val model = ann.Ann.fitIvf(emb, 16, refineIters = 1)
    val centLit = ann.Ann.centroidLiteral(model.centroids)
    for (nprobe <- Seq(1, 3, 6)) {
      val both = emb.select(
        org.apache.spark.sql.graftglue.ColumnGlue.column(
          graft.functions.IvfBestCells(
            org.apache.spark.sql.graftglue.ColumnGlue.expr(col("embedding")),
            model.centroids, nprobe)).as("fast"),
        slice(ann.Ann.rankedCells(centLit, col("embedding")), 1, nprobe)
          .as("ref"))
      val bad = both.filter(
        expr("transform(ref, r -> r.cell_id)") =!= col("fast")).count()
      assert(bad == 0, s"nprobe=$nprobe: $bad rows diverge from the HOF form")
    }
  }

  test("pq_best_codes kernel equals the HOF best-code reference " +
    "(all subspaces, element-for-element)") {
    val emb = Tables.embeddings(spark, sf)
    for ((m, iters) <- Seq((8, 0), (4, 2))) {
      val model = ann.Ann.fitPq(emb, m, 16, iters)
      val bad = emb.select(
        ann.Ann.allCodes(model.codebooks, model.subDim).as("fast"),
        ann.Ann.refCodes(model.codebooks, model.subDim).as("ref"))
        .filter(col("fast") =!= col("ref")).count()
      assert(bad == 0, s"m=$m iters=$iters: $bad rows diverge from the HOF form")
    }
  }

  test("autoCellCount: tracks ⌈n/target⌉, clamps to [lo, 4096]") {
    assert(ann.Ann.autoCellCount(0L, 256) == 1)
    assert(ann.Ann.autoCellCount(255L, 256) == 1)
    assert(ann.Ann.autoCellCount(257L, 256) == 2)
    assert(ann.Ann.autoCellCount(200000L, 256) == 782)
    assert(ann.Ann.autoCellCount(10L, 256, lo = 6L) == 6)
    assert(ann.Ann.autoCellCount(Long.MaxValue / 4, 256) == 4096)
  }

  test("adaptive posting cap: uncapped when the distribution fits the " +
    "budget, budget-bounded when it cannot") {
    import spark.implicits._
    // 1000 singleton features + one modest hot feature: sum(df²) =
    // 1000 + 400 = 1400 ≤ 16 × 1020 postings → effectively uncapped,
    // the graded-scale invariance (exact oracles see no cap)
    val light = ((1 to 1000).map(i => s"f$i") ++ Seq.fill(20)("hot")).toDF("f")
    assert(dedup.Dedup.adaptiveMaxBucket(light) == Int.MaxValue)
    // one mega-hot feature (df 10000, df² = 1e8) over 11000 postings:
    // budget 16 × 11000 = 176k < 1e8, so the cap must exclude the hot
    // bucket while keeping the floor for the singleton tail
    val heavy = (Seq.fill(10000)("stop") ++ (1 to 1000).map(i => s"f$i")).toDF("f")
    val cap = dedup.Dedup.adaptiveMaxBucket(heavy)
    assert(cap < 10000 && cap >= 64, s"cap=$cap")
    // budget honored: candidate volume of admitted buckets ≤ 16×postings
    // (here only the singletons survive — zero pair volume)
    val pairs = dedup.Dedup.ngramJaccardPairs(
      Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text"), 2, 0.5)
    assert(pairs.count() == 1) // floor cap never drops a tiny corpus
  }

  test("adaptive posting cap memoizes per canonicalized feature plan") {
    import spark.implicits._
    dedup.Dedup.clearCapCache()
    def features() = // built fresh each call: same SEMANTIC plan, new objects
      ((1 to 500).map(i => s"g$i") ++ Seq.fill(10)("hot")).toDF("f")
        .select(col("f"))
    val h0 = dedup.Dedup.capCacheHits
    val c1 = dedup.Dedup.adaptiveMaxBucket(features())
    assert(dedup.Dedup.capCacheHits == h0, "first call must compute, not hit")
    val c2 = dedup.Dedup.adaptiveMaxBucket(features())
    assert(c2 == c1)
    assert(dedup.Dedup.capCacheHits == h0 + 1,
      "identical feature derivation must hit the memo")
    // a different budget is a different key — no false sharing
    val c3 = dedup.Dedup.adaptiveMaxBucket(features(), budgetFactor = 1L)
    assert(dedup.Dedup.capCacheHits == h0 + 1)
    // a semantically different plan misses
    dedup.Dedup.adaptiveMaxBucket(
      (1 to 100).map(i => s"z$i").toDF("f").select(col("f")))
    assert(dedup.Dedup.capCacheHits == h0 + 1)
    assert(c3 <= c1)
  }

  test("posting miners escalate shingle width on a closed vocabulary " +
    "and keep full recall (the round-9 recall collapse)") {
    import spark.implicits._
    // 8-word closed vocabulary, 1500 docs × 40 words: all 512 possible
    // 3-grams exist with df ≈ 150, so the budget cap (which correctly
    // bounds candidate volume) drops ~all posting mass and an
    // unescalated posting miner finds ZERO pairs. Each planted dup
    // substitutes ONE word → kills ≤ 3 of ~38 trigrams → J₃ ≥ 0.85.
    val rnd = new scala.util.Random(42)
    def doc() = Array.fill(40)(s"w${rnd.nextInt(8)}").mkString(" ")
    val base = (0L until 1500L).map(i => (i, doc()))
    val dups = (0L until 25L).map { i =>
      val words = base(i.toInt * 7)._2.split(" ")
      words(5 + rnd.nextInt(30)) = s"w${rnd.nextInt(8)}"
      (10000L + i, words.mkString(" "))
    }
    val docs = (base ++ dups).toDF("doc_id", "text")
    assert(dedup.Dedup.blockingShingleWidth(docs, 3) > 3,
      "closed vocabulary must escalate the blocking width")
    val expected = dups.count(d =>
      base(((d._1 - 10000L) * 7).toInt)._2 != d._2) // a few redraws no-op
    val ngram = dedup.Dedup.ngramJaccardPairs(docs, 3, 0.8)
      .filter(col("doc_b") >= 10000L)
    val prefix = dedup.Dedup.prefixJaccardPairs(docs, 3, 0.8)
      .filter(col("doc_b") >= 10000L)
    assert(ngram.count() >= expected, s"ngram found ${ngram.count()} < $expected")
    // escalated paths stay EXACT verifiers: both miners agree pairwise
    assert(ngram.exceptAll(prefix).isEmpty && prefix.exceptAll(ngram).isEmpty)
    // open vocabulary (the graded corpora): no escalation, so exact
    // oracles replay the unescalated plan byte-identically
    assert(dedup.Dedup.blockingShingleWidth(
      Tables.documents(spark, sf), 3) == 3)
  }

  test("minhash LSH candidates cover all high-jaccard pairs (recall)") {
    val docs = Tables.documents(spark, sf)
    val exact = dedup.Dedup.ngramJaccardPairs(docs, 3, 0.8)
      .select("doc_a", "doc_b")
    val cand = dedup.Dedup.minhashLshPairs(docs, 3, 128, 32)
    val missed = exact.exceptAll(cand.select("doc_a", "doc_b")).count()
    assert(missed == 0, s"LSH missed $missed true near-dup pairs")
  }

  test("verified minhash dedup equals the inverted-index Jaccard path") {
    val docs = Tables.documents(spark, sf)
    val viaMinhash = dedup.Dedup.minhashNearDupPairs(docs, 3, 0.8, 128, 32)
    val viaIndex = dedup.Dedup.ngramJaccardPairs(docs, 3, 0.8)
    assert(viaMinhash.exceptAll(viaIndex).isEmpty && viaIndex.exceptAll(viaMinhash).isEmpty)
  }

  test("prefix-filtered join equals the inverted-index Jaccard path") {
    val docs = Tables.documents(spark, sf)
    val viaPrefix = dedup.Dedup.prefixJaccardPairs(docs, 3, 0.8)
    val viaIndex = dedup.Dedup.ngramJaccardPairs(docs, 3, 0.8)
    assert(viaPrefix.exceptAll(viaIndex).isEmpty && viaIndex.exceptAll(viaPrefix).isEmpty)
  }

  test("prefix filter keeps borderline-threshold pairs (no float over-pruning)") {
    import spark.implicits._
    // 4 distinct 3-shingles each, sharing exactly 3: J = 3/5 = 0.6 —
    // exactly at the threshold, where a carelessly rounded prefix
    // length or size filter would drop the pair
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e z")).toDF("doc_id", "text")
    val got = dedup.Dedup.prefixJaccardPairs(docs, 3, 0.6).collect()
    assert(got.length == 1 && got.head.getLong(0) == 1L && got.head.getLong(1) == 2L,
      s"the J=0.6 pair must survive at t=0.6: ${got.mkString}")
  }

  test("trend slope recovers an exact linear ramp") {
    import spark.implicits._
    // value total: 1.00, 3.50, 6.00 over consecutive days -> slope 2.5/day
    val ev = Seq(
      ("a", "2024-01-01 10:00:00", 1.00),
      ("a", "2024-01-02 10:00:00", 3.50),
      ("a", "2024-01-03 10:00:00", 6.00))
      .toDF("event_type", "ts", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = operators.Analytics.trendSlope(ev).collect()
    assert(got.length == 1 && got.head.getDouble(2) == 2.5, got.mkString)
  }

  test("changepoint lands on the last day before a level shift") {
    import spark.implicits._
    // daily counts 5,5,5,20,20: |n*cum - k*total| peaks at k=3
    val rows = Seq(1 -> 5, 2 -> 5, 3 -> 5, 4 -> 20, 5 -> 20).flatMap {
      case (d, c) => (1 to c).map(i => ("a", f"2024-01-0$d%d 10:00:${i}%02d"))
    }
    val ev = rows.toDF("event_type", "ts")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = operators.Analytics.changePoint(ev).collect()
    assert(got.length == 1 && got.head.getDate(1).toString == "2024-01-03",
      got.mkString)
  }

  test("twap weights each value by its holding period") {
    import spark.implicits._
    // 100.00 held 10s, then 200.00 held 30s (last obs open, excluded):
    // twap = (100*10 + 200*30) / 40 = 175
    val ev = Seq(
      (1L, "a", "2024-01-01 00:00:00", 100.00),
      (2L, "a", "2024-01-01 00:00:10", 200.00),
      (3L, "a", "2024-01-01 00:00:40", 999.99))
      .toDF("event_id", "event_type", "ts", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = operators.Analytics.twap(ev).collect()
    assert(got.length == 1 && got.head.getAs[Double]("twap") == 175.0,
      got.mkString)
  }

  test("session concurrency counts overlaps and carries across midnight") {
    import spark.implicits._
    val sessions = Seq(
      // A spans midnight into day 2; B overlaps A on day 2
      ("2024-01-01 23:00:00", "2024-01-02 01:00:00"),
      ("2024-01-02 00:30:00", "2024-01-02 02:00:00"),
      // C alone later on day 2
      ("2024-01-02 10:00:00", "2024-01-02 11:00:00"))
      .toDF("session_start", "session_end")
      .withColumn("session_start", col("session_start").cast("timestamp"))
      .withColumn("session_end", col("session_end").cast("timestamp"))
    val got = operators.Analytics.sessionConcurrency(sessions)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(got("2024-01-01") == 1L, s"day 1 has A alone: $got")
    assert(got("2024-01-02") == 2L,
      s"day 2 peaks at A+B even though A started on day 1: $got")
  }

  test("fixed-point pagerank: star center dominates, symmetric leaves tie") {
    import spark.implicits._
    val star = Seq(("x", "a"), ("x", "b"), ("x", "c"))
      .toDF("src", "dst")
    val undirected = star.unionByName(
      star.select(col("dst").as("src"), col("src").as("dst")))
    val ranks = operators.Graph.pageRank(undirected, 3, 1000000L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ranks.size == 4)
    val leaves = Seq("a", "b", "c").map(ranks)
    assert(leaves.distinct.size == 1, s"symmetric leaves must tie: $ranks")
    assert(ranks("x") > leaves.head, s"the hub outranks its leaves: $ranks")
    // every node keeps at least the teleport mass and total mass is
    // conserved up to the floor-division loss (only downward)
    assert(ranks.values.forall(_ >= 150000L))
    assert(ranks.values.map(BigInt(_)).sum <= BigInt(4) * 1000000L)
  }

  test("simhash identical docs collide, hamming 0") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"), (3L, "x y z w q r t"))
      .toDF("doc_id", "text")
    val pairs = dedup.Dedup.simhashPairs(df, 0).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("fingerprint: identical token stream -> identical hash; order matters") {
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "c b a")).toDF("doc_id", "text")
    val fp = text.TextOps.fingerprint(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L) && fp(1L) != fp(3L))
  }

  test("brute-force topk self-excludes and ranks by cosine desc") {
    val emb = Tables.embeddings(spark, sf)
    val res = ann.Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 2), 5)
    val rows = res.collect()
    assert(rows.length == 10)
    assert(!rows.exists(r => r.getAs[Long]("query_id") == r.getAs[Long]("neighbor_id")))
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rnk"))
      val sims = sorted.map(_.getAs[Double]("cos_sim")).toSeq
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("string-diff fallback reports exact mismatches only") {
    import spark.implicits._
    val l = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val r = Seq((1L, "a"), (2L, "x"), (3L, "c")).toDF("k", "v")
    val d = operators.Reconcile.stringDiffs(l, r, "k", "v").collect()
    assert(d.length == 1 && d.head.getLong(0) == 2L)
  }

  test("rounded diff mode matches the reference's round-3-then-exact edge") {
    import spark.implicits._
    // 1.0004 vs 1.0006: raw diff 0.0002 passes tolerance 0.001, but
    // round-3 gives 1.000 vs 1.001 → the reference flags it
    val l = Seq((1L, 1.0004), (2L, 5.0), (3L, 2.0004)).toDF("k", "v")
    val r = Seq((1L, 1.0006), (2L, 5.0), (3L, 2.0006)).toDF("k", "v")
    assert(operators.Reconcile.valueDiffs(l, r, "k", "v", 0.001).count() == 0)
    val flagged = operators.Reconcile.valueDiffsRounded(l, r, "k", "v")
      .select("k").collect().map(_.getLong(0)).toSet
    assert(flagged == Set(1L, 3L))
    // and the multi-counter form in parity mode agrees
    val lm = Seq((1L, 1.0004, 7.0)).toDF("k", "a", "b")
    val rm = Seq((1L, 1.0006, 7.0)).toDF("k", "a", "b")
    val multi = operators.Reconcile.valueDiffsMulti(lm, rm, "k", Seq("a", "b"),
      tolerance = 0.001, roundScale = Some(3)).collect()
    assert(multi.length == 1 && multi.head.getAs[String]("counter") == "a")
  }

  test("counterDiffs applies numeric-else-string per value, nulls flagged one-sided") {
    import spark.implicits._
    // mixed columns: num parses as double (numeric compare after
    // round-3), txt doesn't (string compare), and a one-sided null
    // routes to the failing compare like the reference's float(None)
    val l = Seq(
      (1L, Some("1.0004"), Some("a")),   // round-3: 1.000 vs 1.001 → flagged
      (2L, Some("2.0"), Some("b")),      // txt differs → flagged
      (3L, Some("3.0"), None),           // null vs value → flagged
      (4L, Some("4.5"), Some("d")))      // num differs → flagged
      .toDF("k", "num", "txt")
    val r = Seq(
      (1L, Some("1.0006"), Some("a")),
      (2L, Some("2.0"), Some("x")),
      (3L, Some("3.0"), Some("c")),
      (4L, Some("4.25"), Some("d")))
      .toDF("k", "num", "txt")
    val got = operators.Reconcile.counterDiffs(l, r, "k", Seq("num", "txt"))
      .collect().map(row => (row.getLong(0), row.getString(1))).toSet
    assert(got == Set((1L, "num"), (2L, "txt"), (3L, "txt"), (4L, "num")))
    // both-null is NOT a diff
    val ln = Seq((1L, Option.empty[String])).toDF("k", "v")
    assert(operators.Reconcile.counterDiffs(ln, ln, "k", Seq("v")).count() == 0)
  }

  test("multimodal resize and frame-sample keep plumbing shape") {
    val media = multimodal.BinaryPipeline.toMedia(Tables.documents(spark, sf).limit(10))
    val resized = multimodal.BinaryPipeline.resize(media, 64)
    assert(resized.select(length(col("payload"))).collect().forall(_.getInt(0) == 64))
    val frames = multimodal.BinaryPipeline.frameSample(media, 4)
    assert(frames.count() == 40)
    assert(frames.columns.toSeq == Seq("doc_id", "frame_idx", "frame", "meta"))
  }

  test("multimodal feature extraction produces deterministic features") {
    val media = multimodal.BinaryPipeline.toMedia(Tables.documents(spark, sf))
    val feats = multimodal.BinaryPipeline.extractFeatures(media)
    val r = feats.filter(col("doc_id") === 0).collect().head
    assert(r.getAs[Long]("n_bytes") > 0)
    assert(r.getSeq[Double](r.fieldIndex("features")).length == 4)
    // the native expression agrees with the reference kernel
    val txt = Tables.documents(spark, sf).filter(col("doc_id") === 0)
      .select("text").collect().head.getString(0)
    val expect = multimodal.BinaryPipeline.fakeDecode(txt.getBytes("UTF-8"))
    assert(r.getSeq[Double](r.fieldIndex("features")) == expect.toSeq)
  }

  test("banded LSH near-dup pairs match the exact pair set (recall 1.0)") {
    val emb = Tables.embeddings(spark, sf)
    val exact = ann.Ann.exactPairs(emb, 0.45).select("vec_a", "vec_b")
    val banded = ann.Ann.bandedLshPairs(emb, 64, 3, 64, 0.45).select("vec_a", "vec_b")
    assert(exact.exceptAll(banded).isEmpty, "banded LSH missed true pairs")
    assert(banded.exceptAll(exact).isEmpty, "banded LSH produced false pairs")
  }

  test("knn graph: k edges per vector, mutual flag matches the edge set") {
    val g = ann.Ann.knnGraph(Tables.embeddings(spark, sf), 3).collect()
    val perQuery = g.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(perQuery.values.forall(_ == 3), "every vector has exactly k edges")
    val edgeSet = g.map(r => (r.getLong(0), r.getLong(1))).toSet
    g.foreach { r =>
      val expected = edgeSet.contains((r.getLong(1), r.getLong(0)))
      assert(r.getBoolean(4) == expected,
        s"mutual flag diverges from the reversed edge set: $r")
    }
    assert(g.exists(_.getBoolean(4)), "some mutual edges exist in a real corpus")
  }

  test("ivf knn graph holds recall vs the exact graph, plan never broadcasts probes") {
    val emb = Tables.embeddings(spark, sf)
    val exact = ann.Ann.knnGraph(emb, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = ann.Ann.knnGraphIvf(emb, 5, 16, 6, refineIters = 2)
    val approx = ivf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"nprobe=6/16 recall collapsed: $recall")
    // audit the probe join BEFORE mutualFlags' localCheckpoint hides it
    val edges = ann.Ann.knnGraphIvfEdges(emb, 5, 16, 6, 2).get
    val p = edges.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"),
      s"corpus-as-queries must shuffle on cell_id, not broadcast:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"probe side must never broadcast:\n$p")
  }

  test("ivf layout guard: an under-split corpus widens to session " +
    "parallelism, a well-split corpus passes through untouched") {
    val emb = Tables.embeddings(spark, sf)
    val want = spark.sparkContext.defaultParallelism
    // degenerate input: one split — the read shape of a single-file,
    // single-row-group parquet table (the 100× soak's 2,319 s wall)
    val pOne = ann.Ann.knnGraphIvfEdges(emb.coalesce(1), 3, 8, 2, 0).get
      .queryExecution.executedPlan.toString
    assert(pOne.contains(s"RoundRobinPartitioning($want)"),
      s"guard must widen a single-split corpus to $want:\n$pOne")
    // healthy input: already at session width — the guard must not
    // add a data shuffle to the steady-state cluster plan
    val pWide = ann.Ann.knnGraphIvfEdges(
      emb.repartition(want, col("vec_id")), 3, 8, 2, 0).get
      .queryExecution.executedPlan.toString
    assert(!pWide.contains("RoundRobinPartitioning"),
      s"guard must no-op on a well-split corpus:\n$pWide")
  }

  test("nn-descent converges fast on clustered data, degrades gracefully " +
    "to coverage on isotropic data, stays deterministic") {
    import spark.implicits._
    // structured corpus: 8 tight clusters on distinct axes — the
    // regime descent is FOR; two rounds must essentially solve it
    val clustered = (0 until 64).map { i =>
      val cl = i % 8
      val base = Array.tabulate(16)(j =>
        0.01f * (((i * 31 + j * 17 + 7) % 23) - 11))
      base(cl * 2) = 10f
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val exactC = ann.Ann.knnGraph(clustered, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val descC = ann.Ann.knnGraphDescent(clustered, 3, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallC = (descC & exactC).size.toDouble / exactC.size
    assert(recallC >= 0.95, s"descent on clustered data must converge: $recallC")
    // the driver corpus is ISOTROPIC random (within-cluster and
    // cross-cluster cosine are both ~0, measured) — there descent,
    // like every ANN method, can only buy recall with coverage, so
    // the contract is monotone improvement + exact-k + determinism
    val emb = Tables.embeddings(spark, sf)
    val exact = ann.Ann.knnGraph(emb, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(iters: Int): (Double, Set[(Long, Long)]) = {
      val e = ann.Ann.knnGraphDescent(emb, 5, iters)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      ((e & exact).size.toDouble / exact.size, e)
    }
    val (r1, _) = recallOf(1)
    val (r3, e3) = recallOf(3)
    assert(r3 >= r1 - 1e-9, s"descent must not lose recall: $r1 -> $r3")
    assert(r3 >= 0.15, s"3-round coverage floor broken: $r3")
    val perNode = e3.groupBy(_._1).values.map(_.size).toSet
    assert(perNode == Set(5))
    // hash seeding + exact scores + id-tie-broken heap => bit-reproducible
    val (_, e3b) = recallOf(3)
    assert(e3b == e3)
  }

  test("triangle stats: K4 is all-triangles, a path has none, tie-degrees safe") {
    import spark.implicits._
    // K4: every node deg 3, participates in C(3,2)=3 triangles, coeff 1.0
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("s1", "s2")
    val got = operators.Graph.triangleStats(k4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.size == 4 && got.values.forall(_ == ((3L, 3L, 1.0))), got.toString)
    // path 1-2-3: middle node deg 2 but zero triangles
    val path = Seq((1L, 2L), (2L, 3L)).toDF("s1", "s2")
    val p = operators.Graph.triangleStats(path).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(p == Map(1L -> 0L, 2L -> 0L, 3L -> 0L), p.toString)
  }

  test("compact-forward triangles equal the naive 3-way join on real edges") {
    val edges = operators.Graph.coSupplierEdges(Tables.lineitem(spark, sf), 30L)
      .localCheckpoint()
    val naive = edges.as("e1")
      .join(edges.as("e2"), col("e1.s2") === col("e2.s1"))
      .join(edges.as("e3"),
        col("e3.s1") === col("e1.s1") && col("e3.s2") === col("e2.s2"))
      .select(explode(array(col("e1.s1"), col("e1.s2"), col("e2.s2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    val fast = operators.Graph.triangleStats(edges).select("node", "triangles")
      .filter(col("triangles") > 0)
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
  }

  test("centroid similarity: identical groups score 1, opposite score -1") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), "a"), (2L, Array(0.0f, 1.0f), "a"),
      (3L, Array(1.0f, 0.0f), "b"), (4L, Array(0.0f, 1.0f), "b"),
      (5L, Array(-1.0f, 0.0f), "c"), (6L, Array(0.0f, -1.0f), "c"))
      .toDF("vec_id", "embedding", "label")
    val got = ann.Ann.centroidSimilarity(emb, "label").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(math.abs(got(("a", "b")) - 1.0) < 1e-12, got.toString)
    assert(math.abs(got(("a", "c")) + 1.0) < 1e-12, got.toString)
  }

  test("histogram drift: identical halves give 0, disjoint halves give 1") {
    import spark.implicits._
    def ev(day: Int, v: Double, n: Int) = (1 to n).map(i =>
      (s"t", java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:00:$i%02d"), v))
    // same histogram both halves -> TV 0
    val same = (ev(3, 1.0, 4) ++ ev(20, 1.0, 8)).toDF("event_type", "ts", "value")
    val tv0 = operators.Analytics.histogramDrift(same, 15, 0.0, 0.5, 20)
      .collect().head.getDouble(3)
    assert(tv0 == 0.0)
    // disjoint value ranges -> TV 1
    val moved = (ev(3, 1.0, 4) ++ ev(20, 9.0, 8)).toDF("event_type", "ts", "value")
    val tv1 = operators.Analytics.histogramDrift(moved, 15, 0.0, 0.5, 20)
      .collect().head.getDouble(3)
    assert(tv1 == 1.0)
  }

  test("kcore: peels a star, keeps a triangle, and is at fixpoint when graded") {
    import spark.implicits._
    // triangle {1,2,3} with pendant 4: 2-core = the triangle only
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("s1", "s2")
    val core = operators.Graph.kCore(g, 2, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), core.toString)
    // the graded parameters are a fixpoint: one more round changes nothing
    val edges = operators.Graph.coSupplierEdges(Tables.lineitem(spark, sf), 30L)
      .localCheckpoint()
    val r5 = operators.Graph.kCore(edges, 6, 5)
    val r6 = operators.Graph.kCore(edges, 6, 6)
    assert(r5.exceptAll(r6).isEmpty && r6.exceptAll(r5).isEmpty,
      "peeling must have converged by the graded round count")
  }

  test("keywords: a document's rare word outranks its common word") {
    import spark.implicits._
    val docs = Seq((1L, "rare common"), (2L, "common")).toDF("doc_id", "text")
    val got = text.TextOps.keywords(docs, 2).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    // doc 1: rare scores 1*2/1=2.0, common 1*2/2=1.0
    assert(got((1L, 1)) == "rare" && got((1L, 2)) == "common", got.toString)
    assert(got((2L, 1)) == "common")
  }

  test("centroid outliers: the vector opposing its group is rank 1") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(-1.0f, 0.0f), 0),
      (4L, Array(0.0f, 1.0f), 1), (5L, Array(0.0f, 0.8f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = ann.Ann.centroidOutliers(emb, "label", 1).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got(0) == 3L, s"opposing vector must be the group-0 outlier: $got")
  }

  test("top-k heap treats NaN as largest (matches window desc ordering)") {
    val buf = new functions.TopKBuffer(2)
    buf.add(0.5, 1L); buf.add(Double.NaN, 2L); buf.add(0.9, 3L)
    val order = buf.sorted.map(buf.ties)
    assert(order.toSeq == Seq(2L, 3L), s"got ${order.toSeq}") // NaN first, then 0.9
  }

  test("salted aggregation spreads a constant-value hot key over many buckets") {
    import spark.implicits._
    val hot = Seq.fill(1000)(("hot", 5.0)).toDF("key", "value").repartition(4)
    val occupied = hot.select(operators.Skew.saltExpr(32).as("s")).distinct().count()
    assert(occupied > 16, s"constant-value rows landed in only $occupied salt buckets")
    val out = operators.Skew.saltedAggregate(hot, "key", "value", 32).collect()
    assert(out.length == 1 && out.head.getAs[Long]("n_rows") == 1000L
      && out.head.getAs[Double]("sum_value") == 5000.0)
  }

  test("salted aggregation equals direct aggregation") {
    val ev = Tables.events(spark, sf)
    val salted = operators.Skew.saltedAggregate(ev, "event_type", "value", 32)
    val direct = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_rows"),
      sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").cast("double").as("sum_value"))
    assert(salted.exceptAll(direct).isEmpty && direct.exceptAll(salted).isEmpty)
  }

  test("approx percentiles honor the sketch's rank-error guarantee") {
    // the sketch guarantees RANK error, not value error (tail value
    // gaps on small groups are arbitrarily wide): the returned value's
    // true rank must sit within 2% of the requested percentile
    val ev = Tables.events(spark, sf)
    val approx = operators.Kpi.valuePercentilesApprox(ev).collect()
      .map(r => r.getAs[String]("event_type") ->
        Seq(r.getAs[Double]("p50"), r.getAs[Double]("p95"), r.getAs[Double]("p99"))).toMap
    approx.foreach { case (k, as) =>
      val vals = ev.filter(col("event_type") === k)
        .select("value").collect().map(_.getDouble(0)).sorted
      Seq(0.50, 0.95, 0.99).zip(as).foreach { case (p, a) =>
        val rank = vals.count(_ <= a).toDouble / vals.length
        assert(math.abs(rank - p) <= 0.02, s"$k p$p: value=$a has rank $rank")
      }
    }
  }

  test("approx distinct within 5% of exact") {
    val ev = Tables.events(spark, sf)
    val approx = SparkEntry.queries("q_rollup_approx")(spark, sf)
      .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Long]("approx_users")).toMap
    val exact = ev.groupBy(col("event_type")).agg(countDistinct(col("user_id")).as("u"))
      .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Long]("u")).toMap
    exact.foreach { case (k, e) =>
      assert(math.abs(approx(k) - e).toDouble / e <= 0.05, s"$k: approx=${approx(k)} exact=$e")
    }
  }

  test("IVF ANN recall vs brute force is reasonable at nprobe=4/16") {
    val emb = Tables.embeddings(spark, sf)
    val exact = ann.Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 10)
      .select("query_id", "neighbor_id")
    val ivf = SparkEntry.queries("q_ann_ivf")(spark, sf)
      .select("query_id", "neighbor_id")
    val hit = exact.intersect(ivf).count()
    assert(hit >= 20, s"IVF recall too low: $hit/50") // probing 4/16 cells
  }

  test("int8 quantization: bounded roundtrip error, zero-vector guard") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val joined = ann.Ann.quantizeInt8(emb).join(emb, "vec_id")
      .select(col("embedding"), col("max_abs"), col("qvec")).collect()
    joined.foreach { r =>
      val x = r.getSeq[Float](0); val s = r.getDouble(1); val q = r.getSeq[Int](2)
      assert(q.length == x.length && q.forall(v => v >= -127 && v <= 127))
      // symmetric round-half-up: |x - q*s/127| <= s/254 (+ float eps)
      x.zip(q).foreach { case (xi, qi) =>
        assert(math.abs(xi.toDouble - qi * s / 127.0) <= s / 254.0 + 1e-9,
          s"roundtrip error out of bound at $xi -> $qi (scale $s)")
      }
    }
    val zero = Seq((0L, Seq(0f, 0f, 0f))).toDF("vec_id", "embedding")
    val zq = ann.Ann.quantizeInt8(zero).collect().head
    assert(zq.getDouble(1) == 0.0 && zq.getSeq[Int](2) == Seq(0, 0, 0))
  }

  test("quantized ANN holds high recall vs the float brute force") {
    val emb = Tables.embeddings(spark, sf)
    val exact = ann.Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 10)
      .select("query_id", "neighbor_id")
    val q = ann.Ann.quantizeInt8(emb)
    val quant = ann.Ann.quantizedTopK(q, q.filter(col("vec_id") < 5), 10)
      .select("query_id", "neighbor_id")
    val hit = exact.intersect(quant).count()
    // int8 error on 64 dims barely perturbs cosine ordering
    assert(hit >= 45, s"quantized recall too low: $hit/50")
  }

  test("k-means refinement converges to exact cluster means") {
    import spark.implicits._
    // two tight clusters around (10,0) and (0,10); seeds = first two
    // vectors, one from each cluster
    val corpus = Seq(
      (0L, Seq(10f, 0f)), (1L, Seq(0f, 10f)),
      (2L, Seq(12f, 0f)), (3L, Seq(8f, 2f)),
      (4L, Seq(0f, 12f)), (5L, Seq(2f, 8f))).toDF("vec_id", "embedding")
    val seeds = Seq(0L -> Seq(10f, 0f), 1L -> Seq(0f, 10f))
    val refined = ann.Ann.refineCentroids(corpus, seeds, 1).toMap
    assert(refined(0L) == Seq(10f, 2f / 3))  // mean of (10,0),(12,0),(8,2)
    assert(refined(1L) == Seq(2f / 3, 10f))  // mean of (0,10),(0,12),(2,8)
  }

  test("refined IVF keeps recall vs brute force") {
    val emb = Tables.embeddings(spark, sf)
    val exact = ann.Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 10)
      .select("query_id", "neighbor_id")
    val ivf = SparkEntry.queries("q_ann_ivf_kmeans")(spark, sf)
      .select("query_id", "neighbor_id")
    val hit = exact.intersect(ivf).count()
    assert(hit >= 20, s"refined IVF recall too low: $hit/50")
  }

  test("a fitted IVF model reused across searches equals fit-per-search") {
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val model = ann.Ann.fitIvf(emb, nCells = 16, refineIters = 1)
    val qA = emb.filter(col("vec_id") < 10)
    val qB = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
    // the same model serves both query sets; each equals the
    // one-shot fit+search the graded query runs
    Seq(qA, qB).foreach { q =>
      val reused = ann.Ann.ivfSearch(model, emb, q, nprobe = 4, k = 5)
      val oneShot = ann.Ann.ivfTopK(emb, q, nCells = 16, nprobe = 4, k = 5, refineIters = 1)
      assert(reused.exceptAll(oneShot).isEmpty && oneShot.exceptAll(reused).isEmpty)
    }
  }

  test("multiprobe LSH ANN always retrieves an exact duplicate as rank 1") {
    // a duplicate shares the sketch bit-for-bit, so it is found in the
    // base probe regardless of parameters — deterministic recall
    val base = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val corpus = base.unionByName(base.select(
      (col("vec_id") + 100000).as("vec_id"), col("embedding")))
    val res = ann.Ann.lshTopK(corpus, base.filter(col("vec_id") < 5), 64, 6, 1)
      .collect()
    assert(res.length == 5)
    res.foreach { r =>
      assert(r.getAs[Long]("neighbor_id") == r.getAs[Long]("query_id") + 100000)
      assert(math.abs(r.getAs[Double]("cos_sim") - 1.0) < 1e-12)
    }
  }

  test("multiprobe widens LSH ANN recall vs base-bucket-only") {
    val emb = Tables.embeddings(spark, sf)
    val exact = ann.Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 10)
      .select("query_id", "neighbor_id")
    def hits(probes: Int) = exact.intersect(
      ann.Ann.lshTopK(emb, emb.filter(col("vec_id") < 5), 64, 6, 10, probes)
        .select("query_id", "neighbor_id")).count()
    val (h0, h2) = (hits(0), hits(2))
    assert(h2 >= h0, s"multiprobe must not lose recall: $h0 -> $h2")
    assert(h2 >= 15, s"hamming-2 multiprobe recall too low: $h2/50")
  }

  test("top-k heap aggregate equals window top-N") {
    val heap = SparkEntry.queries("q_topn_heap")(spark, sf)
    val win = SparkEntry.queries("q_topn_per_group")(spark, sf)
      .select("o_custkey", "rnk", "o_orderkey", "o_totalprice")
    val h = heap.select("o_custkey", "rnk", "o_orderkey", "o_totalprice")
    assert(h.exceptAll(win).isEmpty && win.exceptAll(h).isEmpty)
  }

  test("asof join picks most recent prior row, null when none") {
    import spark.implicits._
    val left = Seq(
      (1L, 100L, "p1"), (1L, 250L, "p2"), (2L, 50L, "p3"))
      .toDF("k", "t", "name")
    val right = Seq(
      (1L, 100L, 10.0), (1L, 200L, 20.0), (1L, 300L, 30.0), (2L, 60L, 60.0))
      .toDF("k", "t", "v")
    val out = operators.AsOf.asofJoin(left, right, "k", "t", Seq("v"), "v")
      .collect().map(r => r.getAs[String]("name") ->
        Option(r.getAs[Any]("asof_v"))).toMap
    assert(out("p1").contains(10.0)) // equal ts counts as <=
    assert(out("p2").contains(20.0)) // most recent prior, not latest overall
    assert(out("p3").isEmpty)        // no prior right row
  }

  test("forward asof picks the earliest following row, horizon nulls far matches") {
    import spark.implicits._
    val left = Seq(
      (1L, 100L, "p1"), (1L, 250L, "p2"), (2L, 500L, "p3"))
      .toDF("k", "t", "name")
    val right = Seq(
      (1L, 100L, 10.0), (1L, 200L, 20.0), (1L, 300L, 30.0), (2L, 60L, 60.0))
      .toDF("k", "t", "v")
    // t is epoch-seconds here, so a 100-second tolerance needs a
    // timestamp column: cast both sides
    val lt = left.withColumn("t", timestamp_seconds(col("t")))
    val rt = right.withColumn("t", timestamp_seconds(col("t")))
    val out = operators.AsOf.asofJoinForward(lt, rt, "k", "t", Seq("v"), "v",
        Some(100L))
      .collect().map(r => r.getAs[String]("name") ->
        Option(r.getAs[Any]("asof_v"))).toMap
    assert(out("p1").contains(10.0)) // equal ts counts as >=
    assert(out("p2").contains(30.0)) // earliest following, 50s ahead
    assert(out("p3").isEmpty)        // only a PRIOR right row exists
    val unbounded = operators.AsOf.asofJoinForward(lt, rt, "k", "t", Seq("v"), "v")
      .collect().map(r => r.getAs[String]("name") ->
        Option(r.getAs[Any]("asof_v"))).toMap
    assert(unbounded == out) // every match here is inside the horizon
  }

  test("point-in-time join picks the containing SCD2 interval, guards gaps") {
    import spark.implicits._
    // dim with a coverage gap: [10, 20) then nothing until [30, null)
    val dim = Seq(
      (1L, 1L, "bronze", 10L, Some(20L)),
      (1L, 2L, "gold", 30L, None))
      .toDF("k", "version", "tier", "valid_from", "valid_to")
    val facts = Seq((101L, 1L, 15L), (102L, 1L, 25L), (103L, 1L, 35L), (104L, 1L, 5L))
      .toDF("fact_id", "k", "t")
    val out = operators.Scd.pointInTimeJoin(facts, dim, "k", "t", Seq("tier"))
    val picks = out.collect().map(r =>
      r.getAs[Long]("fact_id") -> Option(r.getAs[String]("asof_tier"))).toMap
    assert(picks(101L).contains("bronze")) // inside [10, 20)
    assert(picks(102L).isEmpty)            // the gap [20, 30)
    assert(picks(103L).contains("gold"))   // open current interval
    assert(picks(104L).isEmpty)            // before the first version
  }

  test("chunking covers every word with the configured overlap") {
    import spark.implicits._
    val doc = Seq((1L, (1 to 100).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val chunks = text.TextOps.chunk(doc, 64, 16).orderBy("chunk_idx")
      .collect().map(_.getString(2).split(" ").toSeq)
    assert(chunks.length == 2) // ceil((100-16)/48) = 2
    assert(chunks(0) == (1 to 64).map(i => s"w$i"))
    assert(chunks(1) == (49 to 100).map(i => s"w$i")) // 16-word overlap
    // short doc → one whole chunk
    val one = text.TextOps.chunk(Seq((2L, "a b c")).toDF("doc_id", "text"), 64, 16)
    assert(one.count() == 1 && one.collect().head.getString(2) == "a b c")
  }

  test("redaction scrubs emails, ips, and digit runs") {
    import spark.implicits._
    val df = Seq((1L, "mail a.b+c@ex-1.org ip 10.0.0.1 tel +1 (555) 123-4567 ok"))
      .toDF("doc_id", "text")
    val out = text.TextOps.redact(df).collect().head.getString(1)
    assert(out == "mail <EMAIL> ip <IP> tel <NUM> ok", out)
  }

  test("repetition metrics flag boilerplate and pass clean text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam"), // 75% dup words, 2/3 dup bigrams
      (2L, "all four words differ"), // clean
      (3L, "solo")                   // no bigrams → ratio 0
    ).toDF("doc_id", "text")
    val m = text.TextOps.repetition(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getDouble(2) == 0.75 && m(1L).getInt(5) == 0)
    assert(math.abs(m(1L).getDouble(3) - (1.0 - 1.0 / 3)) < 1e-15)
    assert(m(2L).getDouble(2) == 0.0 && m(2L).getInt(5) == 1)
    assert(m(3L).getDouble(3) == 0.0)
  }

  test("vocab top-k orders by count then word") {
    import spark.implicits._
    val docs = Seq((1L, "b a b c a b"), (2L, "c a")).toDF("doc_id", "text")
    val top = text.TextOps.vocab(docs, 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(top == Seq(("a", 3L), ("b", 3L), ("c", 2L))) // tie a<b
  }

  test("decontamination counts distinct shared n-grams per doc") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "so the quick brown fox jumps right here"), // 1 shared 5-gram
      (2L, "completely unrelated text with no overlap at all"),
      (3L, "x the quick brown fox jumps over y")        // 2 shared 5-grams
    ).toDF("doc_id", "text")
    val hits = text.TextOps.decontaminate(corpus, bench, 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(1L -> 1L, 3L -> 2L), hits.toString)
  }

  test("percentile filter keeps docs at or above the global median") {
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, "a b"), (3L, "a b c"), (4L, "a b c d"))
      .toDF("doc_id", "text")
    // word counts 1..4 → median 2.5 → keep 3 and 4
    val kept = text.TextOps.qualityFilter(docs, 0.5).collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L))
  }

  test("json profile aggregates the extracted field, nulls counted apart") {
    import spark.implicits._
    val ev = Seq(
      ("click", """{"k": 10}"""), ("click", """{"k": 4}"""),
      ("click", """{"other": 1}"""), ("view", """{"k": 7}"""))
      .toDF("event_type", "props")
    val out = operators.Analytics.jsonProfile(ev, "k").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("click").getLong(1) == 3 && out("click").getLong(2) == 2)
    assert(out("click").getLong(3) == 14 && out("click").getDouble(6) == 7.0)
    assert(out("view").getInt(4) == 7 && out("view").getInt(5) == 7)
  }

  test("components labels every node with the min reachable id, across chains") {
    import spark.implicits._
    // two components: a 5-chain (min propagates 4 hops) + a 2-clique
    val pairs = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val got = dedup.Dedup.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L,
      20L -> 20L, 21L -> 20L))
    // budget exceeded fails loudly instead of returning partial labels
    assertThrows[IllegalArgumentException] {
      dedup.Dedup.components(pairs, maxIter = 1).count()
    }
  }

  test("pointer doubling converges a long chain in O(log n) rounds") {
    import spark.implicits._
    // an 80-node path has diameter 79: one-hop propagation alone
    // needs 79 rounds, pointer doubling must finish well inside 10
    val chain = (0L until 79L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = dedup.Dedup.components(chain, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 80 && got.forall(_._2 == 0L))
  }

  test("components equals union-find on 30 random graphs (one disjoint run)") {
    import spark.implicits._
    // 30 seeded random graphs, node ids offset per graph so their
    // components can never merge — one Spark run checks all of them
    val rnd = new scala.util.Random(42)
    val edges = (0 until 30).flatMap { g =>
      val base = g * 1000L
      val nodes = 2 + rnd.nextInt(20)
      val nEdges = 1 + rnd.nextInt(30)
      Seq.fill(nEdges) {
        val a = base + rnd.nextInt(nodes); val b = base + rnd.nextInt(nodes)
        if (a == b) (a, b + 1) // doc_a < doc_b, no self-loops
        else (math.min(a, b), math.max(a, b))
      }
    }.distinct
    // driver-side union-find reference
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> find(n)).toMap
    val got = dedup.Dedup.components(edges.toDF("doc_a", "doc_b"), maxIter = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("component dedup keeps exactly one survivor per cluster on chains") {
    import spark.implicits._
    // greedy pair-drop on chain a-b-c with pairs (a,b),(b,c) drops b
    // and c; component dedup must do the same here (a is the rep) AND
    // keep exactly one of {d,e,f} for the chain where greedy would
    // over-drop: pairs (d,e),(e,f) — greedy drops e and f too, but
    // with only (e,f),(d,f) emitted, greedy drops f twice and keeps
    // d AND e, leaving two "survivors" of one cluster
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (4L, 6L)).toDF("doc_a", "doc_b")
    val greedy = dedup.Dedup.dropNearDuplicates(docs, pairs)
      .collect().map(_.getLong(0)).toSet
    assert(greedy == Set(1L, 4L, 5L)) // 4 and 5 both survive one cluster
    val exact = dedup.Dedup.dropDuplicateGroups(docs, pairs)
      .collect().map(_.getLong(0)).toSet
    assert(exact == Set(1L, 4L)) // one representative per component
  }

  test("packing cuts shard streams at exact token-budget boundaries") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s1", "a b c"),        // 3 tokens, offset 0  -> pack 0
      (2L, "s1", "d e f g"),      // 4 tokens, offset 3  -> pack 0
      (3L, "s1", "h i"),          // offset 7 -> pack 1 (budget 5)
      (4L, "s2", "x y z w v u"))  // other shard restarts at offset 0
      .toDF("doc_id", "source", "text")
    val got = text.TextOps.pack(docs, Seq("source"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(4))).toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 0L))
  }

  test("stratified sample picks exactly k per stratum, deterministically") {
    val docs = Tables.documents(spark, sf)
    val sample = text.TextOps.sampleStratified(docs, Seq("source"), "doc_id", 5)
    val bySource = sample.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val strata = docs.select("source").distinct().count()
    assert(bySource.size == strata && bySource.values.forall(_ == 5))
    // replay = identical selection
    val again = text.TextOps.sampleStratified(docs, Seq("source"), "doc_id", 5)
    assert(sample.exceptAll(again).isEmpty && again.exceptAll(sample).isEmpty)
    // and the heap selection equals the window-sort definition
    import org.apache.spark.sql.expressions.Window
    val win = docs
      .withColumn("hkey", pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("hkey"), col("doc_id"))))
      .filter(col("rn") <= 5).select(col("source"), col("doc_id"))
    assert(sample.exceptAll(win).isEmpty && win.exceptAll(sample).isEmpty)
  }

  test("weighted mixture drops zero-weight strata and scales the rest") {
    val docs = Tables.documents(spark, sf)
    val mixed = text.TextOps.sampleWeighted(docs, "source", "doc_id",
      Map("src1" -> 100, "src2" -> 0), defaultPct = 25)
    val bySource = mixed.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!bySource.contains("src2"))
    assert(bySource("src1") == 25) // 100% of its 25 docs
    // hash-spread strata: each retains roughly a quarter; exact
    // counts are deterministic, just not uniform per tiny stratum
    val rest = bySource.view.filterKeys(k => k != "src1" && k != "src2").values
    assert(rest.sum < 25 * 18 / 2 && rest.sum > 0)
    val again = text.TextOps.sampleWeighted(docs, "source", "doc_id",
      Map("src1" -> 100, "src2" -> 0), defaultPct = 25)
    assert(mixed.exceptAll(again).isEmpty && again.exceptAll(mixed).isEmpty)
  }

  test("bucketed range join equals the naive inequality join") {
    import spark.implicits._
    val points = Seq((1L, 5.0), (2L, 10.0), (3L, 99.5), (4L, -3.0), (5L, 250.0))
      .toDF("pid", "v")
    // "e" is inverted (lo > hi): matches nothing, and must not
    // explode a descending bucket sequence
    val ranges = Seq(("a", 0.0, 10.0), ("b", 9.5, 100.0), ("c", -10.0, -1.0),
      ("d", 300.0, 400.0), ("e", 50.0, 40.0)).toDF("rid", "lo", "hi")
    val got = operators.Analytics.rangeJoin(points, "v", ranges, "lo", "hi", 7.0)
      .select("pid", "rid").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val naive = points.join(ranges, col("v") >= col("lo") && col("v") <= col("hi"))
      .select("pid", "rid").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == naive)
    assert(got == Set((1L, "a"), (2L, "a"), (2L, "b"), (3L, "b"), (4L, "c")))
  }

  test("range join plans as an equi-join, not a nested loop") {
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val points = Tables.orders(spark, sf).select(col("o_totalprice").as("v"))
      val ranges = Seq((0.0, 100000.0), (100000.0, 600000.0)).toDF("lo", "hi")
      val p = operators.Analytics.rangeJoin(points, "v", ranges, "lo", "hi", 50000.0)
        .queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"range join degenerated to a nested loop:\n$p")
      assert(p.contains("SortMergeJoin"), s"expected a shuffled equi-join:\n$p")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("operators tolerate an empty corpus") {
    val docs = Tables.documents(spark, sf).filter(lit(false))
    assert(dedup.Dedup.ngramJaccardPairs(docs, 3, 0.8).count() == 0)
    assert(dedup.Dedup.ngramContainmentPairs(docs, 3, 0.8).count() == 0)
    assert(dedup.Dedup.minhashNearDupPairs(docs, 3, 0.8, 128, 32).count() == 0)
    assert(dedup.Dedup.simhashPairs(docs, 3).count() == 0)
    val emb = Tables.embeddings(spark, sf).filter(lit(false))
      .select("vec_id", "embedding")
    assert(ann.Ann.bandedLshPairs(emb, 64, 3, 8, 0.8).count() == 0)
    assert(ann.Ann.ivfTopK(emb, emb, 16, 4, 10).count() == 0) // empty-centroid guard
    assert(ann.Ann.lshTopK(emb, emb, 64, 6, 10).count() == 0)
    val ev = Tables.events(spark, sf).filter(lit(false))
    assert(operators.Rollups.fiveMinute(ev).count() == 0)
    assert(operators.Analytics.sessionize(ev, 1800L).count() == 0)
    assert(operators.Skew.saltedAggregate(ev, "event_type", "value", 8).count() == 0)
    // round-6 additions: empty feeds must yield empty (or for the
    // one-row advisors, a well-defined all-zero/null) results
    assert(operators.Analytics.seasonalNaive(ev).count() == 0)
    assert(operators.Analytics.growthAccounting(ev).count() == 0)
    assert(operators.Analytics.burstDetect(ev, 60000000L).count() == 0)
    assert(operators.Analytics.giniConcentration(ev).count() == 0)
    assert(operators.Analytics.theilSenSlope(ev).count() == 0)
    assert(operators.Analytics.newVsReturning(ev).count() == 0)
    assert(operators.Reconcile.bucketChecksums(ev).count() == 0)
    assert(operators.Layout.compactionPlan(ev, 65536L).count() == 0)
    assert(operators.Layout.partitionSkew(ev, col("user_id"), 32).count() == 0)
    assert(dedup.Dedup.editDistancePairs(docs, 20, 32).count() == 0)
    assert(dedup.Dedup.thresholdSweep(docs, 3, Seq(0.8)).count() == 0)
    assert(text.TextOps.quantileNormalize(docs).count() == 0)
    assert(text.TextOps.vocabGrowth(docs, 3, 50).count() == 0)
    assert(text.TextOps.fertilityReport(docs).count() == 0)
    // one-row advisors stay one row with zero counts and null ratio
    val card = graft.operators.Layout.deltaEncodingAdvisor(ev).collect().head
    assert(card.getAs[Long]("n_rows") == 0L)
  }

  test("sketch expressions are deterministic and seed-sensitive") {
    val emb = Tables.embeddings(spark, sf).limit(50)
    def buckets(seed: Long) = emb.select(
      ann.Ann.lshBucket(col("embedding"), 64, 8, seed).as("b"))
      .collect().map(_.getLong(0)).toSeq
    assert(buckets(42L) == buckets(42L), "same seed must be deterministic")
    assert(buckets(42L) != buckets(43L), "different seeds must give a different family")
    assert(buckets(42L).forall(b => b >= 0 && b < 256))
  }

  test("referential summary adds up") {
    val r = SparkEntry.queries("q_recon_referential")(spark, sf).collect().head
    assert(r.getAs[Long]("n_facts") == r.getAs[Long]("n_matched") + r.getAs[Long]("n_orphans"))
  }

  test("daily trend: moving sums match brute force, windows run post-aggregation") {
    val trend = operators.Analytics.dailyTrend(Tables.events(spark, sf), 7)
    val rows = trend.collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[java.sql.Date]("day").toString,
        r.getAs[Long]("n_events"), r.getAs[Long]("sum_w"), r.getAs[Long]("n_w")))
      .groupBy(_._1)
    rows.foreach { case (_, tl) =>
      val sorted = tl.sortBy(_._2)
      sorted.zipWithIndex.foreach { case ((_, _, _, sumW, nW), i) =>
        val window = sorted.slice(math.max(0, i - 6), i + 1)
        assert(nW == window.length && sumW == window.map(_._3).sum,
          s"moving frame at row $i diverges from brute force")
      }
    }
    // the lag/frame windows must consume the aggregated daily table,
    // not raw events: exactly one window stage above one aggregate
    val plan = trend.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan)
  }

  test("transition matrix: each user contributes exactly n_events - 1 transitions") {
    val ev = Tables.events(spark, sf)
    val total = operators.Analytics.transitionMatrix(ev)
      .agg(sum("n_transitions")).collect().head.getLong(0)
    val users = ev.select("user_id").distinct().count()
    assert(total == ev.count() - users)
  }

  test("source overlap: pair counts equal direct per-pair gram intersections") {
    val docs = Tables.documents(spark, sf)
    val m = text.TextOps.sourceGramOverlap(docs, 8).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_shared_grams")).toMap
    assert(m.nonEmpty)
    assert(m.keys.forall { case (a, b) => a < b }, "each unordered pair exactly once")
    // spot-check the two most-overlapping pairs against a direct set
    // intersection computed per source
    def gramSet(src: String): Set[String] = {
      val w = docs.filter(col("source") === src)
        .select(split(col("text"), " ").as("w")).collect().map(_.getSeq[String](0))
      w.flatMap(ws => ws.sliding(8).filter(_.length == 8).map(_.mkString(" ")).toSet)
        .toSet
    }
    m.toSeq.sortBy(-_._2).take(2).foreach { case ((a, b), n) =>
      assert(gramSet(a).intersect(gramSet(b)).size.toLong == n,
        s"overlap($a, $b) diverges from the direct intersection")
    }
  }

  test("contribution shares sum to 1 per day; pareto cumulates to exactly 1") {
    val ev = Tables.events(spark, sf)
    val byDay = operators.Analytics.contribution(ev).collect()
      .groupBy(_.getAs[java.sql.Date]("day"))
    assert(byDay.nonEmpty)
    byDay.foreach { case (d, rows) =>
      val s = rows.map(_.getAs[Double]("share")).sum
      assert(math.abs(s - 1.0) < 1e-9, s"day $d shares sum to $s")
    }
    val pareto = operators.Analytics.paretoClasses(ev).collect()
      .sortBy(_.getAs[Double]("cum_share"))
    assert(pareto.last.getAs[Double]("cum_share") == 1.0,
      "decimal cumulative sum must hit the total exactly")
    // classes partition the ordering: once past a threshold, never back
    val classes = pareto.map(_.getAs[String]("abc_class")).toSeq
    assert(classes == classes.sorted, s"classes out of order: $classes")
  }

  test("rolling active users equal brute-force trailing distinct counts") {
    val ev = Tables.events(spark, sf)
    val got = operators.Analytics.rollingActiveUsers(ev, 7).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString ->
        (r.getAs[Long]("dau"), r.getAs[Long]("wau"))).toMap
    val ud = ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .collect().map(r => (r.getLong(0), r.getAs[java.sql.Date](1).toLocalDate))
    // expected: every day in the observed span with a live trailing
    // window (wau > 0), including zero-DAU days
    val dMin = ud.map(_._2).min
    val dMax = ud.map(_._2).max
    val spanDays = Iterator.iterate(dMin)(_.plusDays(1))
      .takeWhile(!_.isAfter(dMax)).toSeq
    val expected = spanDays.flatMap { d =>
      val dau = ud.filter(_._2 == d).map(_._1).distinct.length
      val wau = ud.filter(x => !x._2.isAfter(d) && !x._2.isBefore(d.minusDays(6)))
        .map(_._1).distinct.length
      if (wau > 0) Some(d.toString -> (dau.toLong, wau.toLong)) else None
    }.toMap
    assert(expected.nonEmpty && got == expected)
  }

  test("rolling active users emits dau=0 rows for zero-activity days in a live window") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(day: Int) = new Timestamp(day * 86400L * 1000)
    // user 1 active on day 0 and day 4 only: days 1-3 have dau=0 but
    // wau=1 (day-0 activity keeps the trailing window live), and no
    // phantom rows appear past day 4 (the observed span end)
    val ev = Seq((1L, ts(0)), (1L, ts(4))).toDF("user_id", "ts")
    val got = operators.Analytics.rollingActiveUsers(ev, 7).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString ->
        (r.getAs[Long]("dau"), r.getAs[Long]("wau"),
          r.getAs[Double]("stickiness"))).toMap
    assert(got == Map(
      "1970-01-01" -> ((1L, 1L, 1.0)),
      "1970-01-02" -> ((0L, 1L, 0.0)),
      "1970-01-03" -> ((0L, 1L, 0.0)),
      "1970-01-04" -> ((0L, 1L, 0.0)),
      "1970-01-05" -> ((1L, 1L, 1.0))))
  }

  test("snapshot diff classifies the simulated delta exactly") {
    val docs = Tables.documents(spark, sf)
    val byStatus = SparkEntry.queries("q_corpus_diff")(spark, sf)
      .groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val removed = docs.filter(col("doc_id") % 97 === 0).count()
    val changed = docs.filter(col("doc_id") % 97 =!= 0 && col("doc_id") % 101 === 0).count()
    val added = docs.filter(col("doc_id") % 103 === 0).count()
    assert(byStatus.getOrElse("removed", 0L) == removed)
    assert(byStatus.getOrElse("changed", 0L) == changed)
    assert(byStatus.getOrElse("added", 0L) == added)
    assert(byStatus.values.sum == docs.count() + added)
    // the join must carry 8-byte hashes, not the text payload
    val p = SparkEntry.queries("q_corpus_diff")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("xxhash64".r.findAllIn(p).nonEmpty, p)
  }

  test("snapshot diff distinguishes null-position swaps across payload columns") {
    import spark.implicits._
    // Spark hash functions skip nulls, so (NULL,'x') and ('x',NULL)
    // would hash identically without the interleaved null flags —
    // this row pair must be reported 'changed', not 'unchanged'
    val base = Seq((1L, Option.empty[String], Option("x")),
      (2L, Option("same"), Option("same"))).toDF("k", "a", "b")
    val cur = Seq((1L, Option("x"), Option.empty[String]),
      (2L, Option("same"), Option("same"))).toDF("k", "a", "b")
    val got = operators.Reconcile.snapshotDiff(base, cur, "k", Seq("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "changed", 2L -> "unchanged"))
  }

  test("corpus profile: cube cells agree with direct rollups, one aggregate plan") {
    val docs = Tables.documents(spark, sf)
    val prof = operators.Analytics.corpusProfile(docs)
    // grand total row = whole-corpus aggregate
    val total = prof.filter(col("lang").isNull && col("source").isNull).collect()
    assert(total.length == 1)
    assert(total.head.getAs[Long]("n_docs") == docs.count())
    // fully-specified cells = plain groupBy
    val cells = prof.filter(col("lang").isNotNull && col("source").isNotNull)
    val direct = docs.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    assert(cells.exceptAll(direct).isEmpty && direct.exceptAll(cells).isEmpty,
      "cube (lang, source) cells diverge from the direct groupBy")
    // per-lang marginal sums across sources
    val perLang = prof.filter(col("lang").isNotNull && col("source").isNull)
      .select("lang", "n_docs")
    val marginal = direct.groupBy("lang").agg(sum("n_docs").as("n_docs"))
    assert(perLang.exceptAll(marginal).isEmpty, "per-lang marginals diverge")
    // one Expand + one aggregate chain: no union of scans
    val plan = prof.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), s"cube should plan an Expand:\n$plan")
    assert(!plan.contains("Union"), s"cube must not union multiple scans:\n$plan")
  }

  test("densify emits explicit zero rows for silent days") {
    import spark.implicits._
    // type a: days 1 and 4 (days 2-3 silent); type b: day 2 only —
    // the grid spans the GLOBAL [d_min, d_max] = Jan 1..4 for both
    val ev = Seq(
      ("a", "2024-01-01 10:00:00"), ("a", "2024-01-04 10:00:00"),
      ("a", "2024-01-04 11:00:00"), ("b", "2024-01-02 09:00:00"))
      .toDF("event_type", "ts")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = operators.Analytics.densifyDaily(ev)
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2))
      .toMap
    assert(got.size == 8, s"2 types x 4 days expected, got $got")
    assert(got(("a", "2024-01-02")) == 0L && got(("a", "2024-01-03")) == 0L)
    assert(got(("b", "2024-01-01")) == 0L && got(("b", "2024-01-04")) == 0L)
    assert(got(("a", "2024-01-04")) == 2L && got(("b", "2024-01-02")) == 1L)
  }

  test("range-frame rolling sum honors calendar gaps where a ROWS frame would not") {
    import spark.implicits._
    // days 1, 2, 10: the trailing-7-day window at day 10 must NOT
    // reach back across the gap to days 1-2
    val ev = Seq(
      ("a", "2024-01-01 10:00:00"), ("a", "2024-01-02 10:00:00"),
      ("a", "2024-01-02 11:00:00"), ("a", "2024-01-10 10:00:00"))
      .toDF("event_type", "ts")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = operators.Analytics.rollingRangeSum(ev, 7)
      .collect()
      .map(r => r.getDate(1).toString -> (r.getLong(3), r.getLong(4)))
      .toMap
    assert(got("2024-01-02") == ((3L, 2L)), s"day 2 sees days 1+2: $got")
    assert(got("2024-01-10") == ((1L, 1L)),
      s"day 10's calendar window excludes the pre-gap days: $got")
  }

  test("patternWithNegation: blocker between blocks, after converts, " +
    "absent target is none, and a blocker/target tie favors the target") {
    import spark.implicits._
    def t(s: Int) = new java.sql.Timestamp(1704067200000L + s * 1000L)
    val ev = Seq(
      (1L, t(0), 10L, "view"), (1L, t(1), 11L, "error"), (1L, t(2), 12L, "purchase"),
      (2L, t(0), 20L, "view"), (2L, t(1), 21L, "purchase"), (2L, t(2), 22L, "error"),
      (3L, t(0), 30L, "view"),
      (4L, t(0), 40L, "view"), (4L, t(1), 41L, "purchase"), (4L, t(1), 42L, "error"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = operators.Analytics
      .patternWithNegation(ev, "view", "purchase", "error")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out == Map(1L -> "blocked", 2L -> "converted",
      3L -> "none", 4L -> "converted"), s"got $out")
  }

  test("autocorrelation: alternating daily series scores r=-1 at lag 1 " +
    "and r=+1 at lag 2") {
    import spark.implicits._
    val rows = for {
      d <- 0 until 10
      i <- 0 until (2 + d % 2)
    } yield (d * 10L + i,
      java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 00:00:00"), 1L, "click")
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type")
    val out = operators.Analytics.autocorrelation(ev, 2)
      .collect().map(r => r.getInt(1) -> r.getDouble(3)).toMap
    assert(math.abs(out(1) + 1.0) < 1e-12, s"lag 1: ${out(1)}")
    assert(math.abs(out(2) - 1.0) < 1e-12, s"lag 2: ${out(2)}")
  }

  test("snapshotAt reconstructs each intermediate CDC state") {
    import spark.implicits._
    val base = Seq((1L, "A"), (2L, "B")).toDF("k", "v")
    val changes = Seq(
      (1L, "A1", "U", 1), (1L, "A2", "U", 2), (2L, "B", "D", 3), (3L, "C", "I", 2))
      .toDF("k", "v", "op", "change_seq")
    def snap(asOf: Int) = operators.Maintenance
      .snapshotAt(base, changes, "k", "change_seq", asOf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap(1) == Map(1L -> "A1", 2L -> "B"))
    assert(snap(2) == Map(1L -> "A2", 2L -> "B", 3L -> "C"))
    assert(snap(3) == Map(1L -> "A2", 3L -> "C"))
  }

  test("joinKeyDiscovery: full containment flags the FK direction") {
    import spark.implicits._
    val dim = Seq(1L, 2L, 3L, 4L).toDF("id")
    val fact = Seq(1L, 1L, 2L, 2L, 3L).toDF("fk")
    val out = operators.Reconcile.joinKeyDiscovery(Seq(
      ("dim.id", dim, "id"), ("fact.fk", fact, "fk"))).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("col_a") == "dim.id"
      && r.getAs[String]("col_b") == "fact.fk")
    assert(r.getAs[Long]("n_a") == 4 && r.getAs[Long]("n_b") == 3
      && r.getAs[Long]("n_common") == 3)
    assert(r.getAs[Double]("containment_b_in_a") == 1.0)
    assert(r.getAs[Double]("containment_a_in_b") == 0.75)
  }

  test("leakageSafeSplit: no near-dup pair straddles splits; " +
    "singletons match the per-doc split") {
    val docs = Tables.documents(spark, sf)
    val pairs = dedup.Dedup.ngramJaccardPairs(docs, 3, 0.8)
    val out = dedup.Dedup.leakageSafeSplit(docs, pairs, 80, 10)
    val straddle = out.select(col("doc_id").as("doc_a"), col("split").as("sa"))
      .join(pairs.select("doc_a", "doc_b"), "doc_a")
      .join(out.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
      .filter(col("sa") =!= col("sb")).count()
    assert(straddle == 0, s"$straddle near-dup pairs straddle the split")
    val paired = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val singles = out.join(paired, Seq("doc_id"), "left_anti")
    val ref = text.TextOps.splitAssign(docs, "doc_id", 80, 10)
      .select(col("doc_id"), col("split").as("ref_split"))
    val diverged = singles.join(ref, "doc_id")
      .filter(col("split") =!= col("ref_split")).count()
    assert(diverged == 0, s"$diverged singleton docs diverge from splitAssign")
  }

  test("functionalDependencies: separates holds / nearly-holds / unrelated") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", "x"), (1L, "a", "x"), (2L, "a", "y"), (3L, "b", "y"))
      .toDF("k", "g", "v")
    val out = operators.Reconcile.functionalDependencies(df, "t",
      Seq(("k", "g"), ("g", "v"), ("v", "g")))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_keys"), r.getAs[Long]("n_violating"),
          r.getAs[Boolean]("holds")))).toMap
    assert(out("t.k") == ((3L, 0L, true)), s"k->g must hold: $out")
    assert(out("t.g") == ((2L, 1L, false)), s"g->v nearly holds: $out")
    assert(out("t.v") == ((2L, 1L, false)), s"v->g has a violation: $out")
  }

  test("audienceOverlap: exact pair counts and jaccard from the set collapse") {
    import spark.implicits._
    def t(s: Int) = new java.sql.Timestamp(1704067200000L + s * 1000L)
    val ev = Seq(
      (1L, "click", t(0)), (1L, "view", t(1)),
      (2L, "click", t(0)), (2L, "view", t(1)), (2L, "click", t(2)),
      (3L, "click", t(0)))
      .toDF("user_id", "event_type", "ts")
    val out = operators.Analytics.audienceOverlap(ev).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("type_a") == "click" && r.getAs[String]("type_b") == "view")
    assert(r.getAs[Long]("users_a") == 3 && r.getAs[Long]("users_b") == 2
      && r.getAs[Long]("users_both") == 2)
    assert(r.getAs[Double]("jaccard") == 2.0 / 3.0)
  }

  test("templateFamilies: shared heads group, divergent tails don't split them") {
    import spark.implicits._
    val head = "dear valued customer your account statement is now"
    val docs = Seq(
      (1L, s"$head ready for january", "s1"),
      (2L, s"$head ready for february", "s2"),
      (3L, "completely unrelated text body", "s1"))
      .toDF("doc_id", "text", "source")
    val out = text.TextOps.templateFamilies(docs, 8).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("n_docs") == 2
      && out.head.getAs[Long]("n_sources") == 2
      && out.head.getAs[Long]("min_doc_id") == 1L)
  }

  test("firstDigitProfile: digit from exact cents, shares sum to 1 per group") {
    import spark.implicits._
    val df = Seq(("a", 10.00), ("a", 19.99), ("a", 950.00), ("b", 0.42))
      .toDF("grp", "v")
    val out = operators.Analytics.firstDigitProfile(df, "grp", "v")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n"), r.getAs[Double]("share")))).toMap
    assert(out(("a", "1")) == ((2L, 2.0 / 3.0)))
    assert(out(("a", "9")) == ((1L, 1.0 / 3.0)))
    assert(out(("b", "4")) == ((1L, 1.0)))
  }

  test("dominantEigen: unit-norm component, positive eigenvalue, " +
    "finds the dominant axis") {
    import spark.implicits._
    val vecs = (0 until 40).map { i =>
      (i.toLong, Seq(if (i % 2 == 0) 100f else -100f,
        if (i % 3 == 0) 1f else 0f, 0f, 0f))
    }
    val out = ann.Ann.dominantEigen(vecs.toDF("vec_id", "embedding"), 8).collect()
    val comp = out.sortBy(_.getInt(0)).map(_.getDouble(1))
    assert(math.abs(comp.map(c => c * c).sum - 1.0) < 1e-9, "not unit norm")
    assert(out.head.getDouble(2) > 0, "eigenvalue must be positive")
    assert(math.abs(comp(0)) > 0.99, s"axis 1 should dominate: ${comp.toSeq}")
  }
}
