package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Machine-checkable recall artifact for the capped/blocked dedup
  * miners at soak scale (r7 verdict gap #2: the 257/258 and 258/258
  * witnesses lived in SOAK_SF1.md prose — a cap regression was only
  * detectable by re-reading the narrative, not by diffing an
  * artifact).
  *
  * Truth model: the UNION of every miner's verified pairs. An
  * absolute exact truth is itself quadratic at soak scale (an
  * uncapped posting miner materializes a Zipf-hot bucket's full pair
  * array in one task — measured OOM at 10× on 64 GB), so the honest
  * at-scale witness is cross-verification between INDEPENDENT
  * blocking strategies: every unioned pair is exact-verified (true
  * positive by construction), and a pair missed by one strategy is
  * caught by another unless ALL of them block it out — three
  * independent strategies (posting lists, PPJoin prefixes, MinHash
  * bands) make that event the measured-rare corner. This is exactly
  * the r7 narrative methodology ("capped prefix 257/258 vs the
  * independent MinHash witness"), made diffable.
  *
  *  - `ngram_capped`   — adaptive-capped posting miner (the default)
  *  - `prefix_capped`  — PPJoin prefix miner, adaptive cap
  *  - `minhash_banded` — MinHash banding + verify (128/32: the
  *    documented at-scale recommendation)
  *  - `edit_auto` / `edit_key1` — the edit-distance family's two
  *    blocking strategies (budget-capped auto-keyed vs capped
  *    1-token-keyed) scored against THEIR union (the predicate is
  *    distance, not Jaccard, so it carries its own truth set)
  *
  * Every row carries a gate floor; any `recall < gate` fails the run
  * (exit 1), so a cap regression breaks the soak driver instead of
  * hiding in a narrative. 1.0 is NOT required anywhere by design:
  * capped miners document bounded recall loss as the price of
  * linear-by-construction candidate volume.
  *
  * Usage: runMain graft.RecallSoak <sfDir> [outPath]
  */
object RecallSoak {

  private final case class R(name: String, nTrue: Long, nFound: Long,
                             nCand: Long, gate: Double, wallS: Double) {
    def recall: Double = if (nTrue == 0) 1.0 else nFound.toDouble / nTrue
    def pass: Boolean = recall >= gate
    def json: String =
      s"""${Json.str(name)}:{"n_true":$nTrue,"n_found":$nFound,"n_candidates":$nCand,""" +
        f""""recall":$recall%.6f,"gate":$gate,"wall_s":$wallS%.1f,"pass":$pass}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "localdata/sf1h"
    val out = if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_RECALL_OUT", "/root/repo/RECALL_latest.json")
    // host-drift sentinel bracketing the run (see graft.Sentinel)
    val sentinelBefore = Sentinel.seconds()
    val spark = Session.build()
    Tables.validate(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)

    def persisted(df: DataFrame): DataFrame = {
      val p = df.select(col("doc_a"), col("doc_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }

    def score(name: String, gate: Double, truth: DataFrame, cand: DataFrame,
              wallS: Double): R = {
      val row = Dedup.blockingRecall(truth, cand).head()
      val r = R(name, row.getAs[Long]("n_exact"), row.getAs[Long]("n_found"),
        row.getAs[Long]("n_candidates"), gate, wallS)
      println(f"${if (r.pass) "pass" else "FAIL"}%-5s $name%-15s " +
        f"true=${r.nTrue} found=${r.nFound} recall=${r.recall}%.4f gate=$gate wall=${r.wallS}%.1f s")
      r
    }

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = f
      (v, (System.nanoTime() - t0) / 1e9)
    }

    val results = scala.collection.mutable.ArrayBuffer[R]()

    // Jaccard family: three independent strategies → union truth
    val (ngram, wN) = timed(persisted(Dedup.ngramJaccardPairs(docs, 3, 0.8)))
    val (prefix, wP) = timed(persisted(Dedup.prefixJaccardPairs(docs, 3, 0.8)))
    val (minhash, wM) = timed(persisted(Dedup.minhashNearDupPairs(docs, 3, 0.8, 128, 32)))
    val truth = persisted(ngram.unionByName(prefix).unionByName(minhash).distinct())
    // gate floors encode each miner's MEASURED at-scale economics, not
    // an aspiration: at 100× (sf10) the capped posting miner drops
    // 2/258 true pairs (0.9922 — the bounded loss the cap buys linear
    // candidate volume with), prefix drops 1/258 (0.9961), MinHash
    // banding stays full-recall (the documented at-scale
    // recommendation). A cap regression shows up as a drop BELOW the
    // measured floor, which is what the gate must catch.
    results += score("ngram_capped", 0.99, truth, ngram, wN)
    results += score("prefix_capped", 0.995, truth, prefix, wP)
    results += score("minhash_banded", 0.995, truth, minhash, wM)
    Seq(ngram, prefix, minhash, truth).foreach(_.unpersist())

    // Edit-distance family: two blocking strategies → union truth.
    // The fixed-key comparator uses TWO leading tokens: on the
    // round-9 driver corpus (31-word closed vocabulary) one token
    // gives only 31 possible blocks, every block is cap-hot, and
    // 1-token recall measured 0.23 — not a cap regression but the
    // key space collapsing. 31² two-token keys stay discriminative;
    // the price is pairs whose edit touches the first two tokens,
    // covered by the auto-keyed sibling in the union truth.
    val (editAuto, wA) = timed(persisted(Dedup.editDistancePairsAuto(docs, maxDist = 4)))
    val (editKey2, wK) = timed(persisted(Dedup.editDistancePairs(docs, maxDist = 4,
      bandWidth = 32, blockTokens = 2)))
    val editTruth = persisted(editAuto.unionByName(editKey2).distinct())
    results += score("edit_auto", 0.90, editTruth, editAuto, wA)
    results += score("edit_key2", 0.90, editTruth, editKey2, wK)
    Seq(editAuto, editKey2, editTruth).foreach(_.unpersist())

    val nFail = results.count(!_.pass)
    // the gates LOOK one-lost-pair thin (ngram 0.99 vs measured
    // 0.992) because that is the design: each floor is the miner's
    // MEASURED at-scale economics, so any drop below it is a cap
    // regression by definition. Do not loosen a gate to quiet a red
    // run — re-measure, and move the floor only with the measurement.
    val gateNote = "gates encode each miner's measured at-scale recall floor; " +
      "a one-pair drop below the floor IS the regression this artifact catches " +
      "- re-measure before moving any gate"
    val line = s"""{"soak":"dedup_recall","sf_dir":${Json.str(sfDir)},"n_fail":$nFail,""" +
      s""""gate_note":${Json.str(gateNote)},""" +
      f""""sentinel_before_s":$sentinelBefore%.3f,""" +
      f""""sentinel_after_s":${Sentinel.seconds()}%.3f,""" +
      f""""sentinel_nominal_s":${Sentinel.NominalS}%.3f,""" +
      s""""miners":{${results.map(_.json).mkString(",")}}}"""
    println(line)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case _: Throwable => () }
    spark.stop()
    if (nFail > 0) sys.exit(1)
  }
}
