package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reconciliation engine — the Spark re-expression of the reference's
  * `compare_data` (HlxTools.py:763-936): record-count comparison,
  * bidirectional missing-key detection, per-counter value diffs with
  * numeric tolerance, and fact→dimension referential-integrity checks.
  *
  * Scale design: every comparison is a single co-partitioned join on
  * the reconciliation key (one shuffle each side, AQE-coalesced); all
  * counter columns are diffed inside the same stage instead of one
  * pass per counter like the reference's row loop.
  */
object Reconcile {

  /** Per-key record-count comparison (reference: raw_data_records vs
    * oracle_records, HlxTools.py:785-818) — full outer join of the two
    * pre-aggregated sides so missing keys surface as count 0.
    */
  def countCompare(left: DataFrame, right: DataFrame, key: String): DataFrame = {
    val l = left.groupBy(col(key)).agg(count(lit(1)).as("cnt_left"))
    val r = right.groupBy(col(key)).agg(count(lit(1)).as("cnt_right"))
    l.join(r, Seq(key), "full_outer")
      .select(
        col(key),
        coalesce(col("cnt_left"), lit(0L)).as("cnt_left"),
        coalesce(col("cnt_right"), lit(0L)).as("cnt_right"))
      .withColumn("is_match", col("cnt_left") === col("cnt_right"))
  }

  /** Keys present on one side and not the other, both directions
    * (reference: missing_oracle_records / missing_raw_data_records,
    * HlxTools.py:885-899). ONE full-outer join of the distinct key
    * sets — the two-anti-join formulation scans and aggregates each
    * side twice (no plan reuse without caching); this does both
    * directions in a single co-partitioned pass.
    */
  def missingKeys(left: DataFrame, right: DataFrame, key: String): DataFrame = {
    val lk = left.select(col(key)).distinct().withColumn("_l", lit(1))
    val rk = right.select(col(key)).distinct().withColumn("_r", lit(1))
    lk.join(rk, Seq(key), "full_outer")
      .withColumn("direction",
        when(col("_r").isNull, "missing_right")
          .when(col("_l").isNull, "missing_left"))
      .filter(col("direction").isNotNull)
      .select(col(key), col("direction"))
  }

  /** Per-counter value diff with tolerance. `left`/`right` carry
    * (key, value) with the same column names; rows whose |left-right|
    * exceeds `tolerance` are reported. For the reference's exact edge
    * behavior (round to 3 decimals, flag ANY nonzero difference) use
    * [[valueDiffsRounded]].
    */
  def valueDiffs(left: DataFrame, right: DataFrame, key: String,
                 valueCol: String, tolerance: Double): DataFrame =
    left.select(col(key), col(valueCol).as("val_left"))
      .join(right.select(col(key), col(valueCol).as("val_right")), Seq(key), "inner")
      .withColumn("diff", col("val_left") - col("val_right"))
      .filter(abs(col("diff")) > tolerance)

  /** The reference's own diff semantics, bit-faithful: round each side
    * to `scale` decimals FIRST, then flag any nonzero difference of
    * the rounded values (HlxTools.py:915-918 rounds to 3). This
    * differs from a tolerance at the rounding boundary — 1.0004 vs
    * 1.0006 round to 1.000 vs 1.001 and are flagged, though their raw
    * difference (0.0002) passes any tolerance ≥ 0.001. Spark's
    * `round` is HALF_UP, matching the reference runtime's Python 2
    * round (half away from zero). NOTE: Python 3 / numpy round
    * half-to-even — if the reference harness is ever re-run on
    * Python 3, exactly-representable .xxx5 ties (e.g. 0.0625 at
    * scale 3) diverge between the two.
    */
  def valueDiffsRounded(left: DataFrame, right: DataFrame, key: String,
                        valueCol: String, scale: Int = 3): DataFrame =
    left.select(col(key), round(col(valueCol), scale).as("val_left"))
      .join(right.select(col(key), round(col(valueCol), scale).as("val_right")),
        Seq(key), "inner")
      .withColumn("diff", col("val_left") - col("val_right"))
      .filter(col("diff") =!= 0.0)

  /** All-counter value diff in one pass (the reference loops every
    * counter per joined row, HlxTools.py:907-929): one join on the
    * key, then `stack` unpivots the counter columns to long format
    * (key, counter, val_left, val_right, diff) inside the same stage
    * — N counters cost one shuffle, not N.
    */
  def valueDiffsMulti(left: DataFrame, right: DataFrame, key: String,
                      counters: Seq[String], tolerance: Double,
                      roundScale: Option[Int] = None): DataFrame = {
    // roundScale = reference parity mode: round each side first, flag
    // any nonzero rounded difference (see valueDiffsRounded); the
    // tolerance is ignored in that mode
    def side(df: DataFrame, sfx: String) = df.select(
      col(key) +: counters.map { c =>
        roundScale.fold(col(c))(s => round(col(c), s)).as(s"${c}_$sfx")
      }: _*)
    val stackArgs = counters.map(c => s"'$c', ${c}_l, ${c}_r").mkString(", ")
    val stacked = side(left, "l").join(side(right, "r"), Seq(key), "inner")
      .selectExpr(key, s"stack(${counters.size}, $stackArgs) AS (counter, val_left, val_right)")
      .withColumn("diff", col("val_left") - col("val_right"))
    if (roundScale.isDefined) stacked.filter(col("diff") =!= 0.0)
    else stacked.filter(abs(col("diff")) > tolerance)
  }

  /** All-counter compare with the reference's exact PER-VALUE
    * semantics (the try/except in HlxTools.py:907-929): each counter
    * value pair is compared numerically (round both sides to `scale`
    * decimals, flag any nonzero difference) when BOTH parse as
    * doubles, and as strings otherwise — including the one-side-null
    * case, which the reference's float(None) TypeError also routes to
    * the (failing) string compare. One join on the key; `stack`
    * unpivots every counter inside the same stage (N counters cost
    * one shuffle, not N), with values carried as strings so numeric
    * and text counters share the stack, exactly like the reference's
    * untyped CSV/DB frames.
    */
  def counterDiffs(left: DataFrame, right: DataFrame, key: String,
                   counters: Seq[String], scale: Int = 3): DataFrame = {
    require(counters.nonEmpty, "counterDiffs needs at least one counter")
    def side(df: DataFrame, sfx: String) = df.select(
      col(key) +: counters.map(c => col(c).cast("string").as(s"${c}_$sfx")): _*)
    val stackArgs = counters.map(c => s"'$c', ${c}_l, ${c}_r").mkString(", ")
    side(left, "l").join(side(right, "r"), Seq(key), "inner")
      .selectExpr(key,
        s"stack(${counters.size}, $stackArgs) AS (counter, val_left, val_right)")
      .filter(valuesDiffer(col("val_left"), col("val_right"), scale))
      .select(col(key), col("counter"), col("val_left"), col("val_right"))
  }

  /** The per-value predicate of [[counterDiffs]] over two string-
    * carried values: numeric compare at `scale` when both parse as
    * doubles, null-aware string compare otherwise.
    */
  private def valuesDiffer(vl: Column, vr: Column, scale: Int): Column = {
    val numL = vl.cast("double")
    val numR = vr.cast("double")
    when(numL.isNotNull && numR.isNotNull, round(numL, scale) - round(numR, scale) =!= 0.0)
      .otherwise(coalesce(vl =!= vr, lit(false)) || (vl.isNull =!= vr.isNull))
  }

  /** The keyed full-outer aggregate behind [[Report.compareData]]: both
    * sides, tagged by origin, meet in ONE shuffle on `key` instead of
    * one join per suite. Per key: the row count of each side
    * (`cnt_left`, `cnt_right`; 0 = the key is missing on that side)
    * and, when there are counters, `diffs` — the failing (counter,
    * val_left, val_right) cells, [[counterDiffs]]' rows for that key,
    * compared on the string-carried values [[counterDiffs]] compares.
    * The aggregate keeps ONE row's counters per side, so a key's state
    * stays bounded however often it repeats; `diffs` is therefore
    * filled only for a key with exactly one row on each side, and a
    * key with more rows on a side (`cnt_left * cnt_right > 1`) leaves
    * its cells to [[counterDiffs]]' row-level join, which spills where
    * a per-key cross product could not. `key` must be non-null (the
    * cycle's `concat_ws` key is): a null key groups here but never
    * matches in a join.
    */
  private[operators] def keyedCompare(left: DataFrame, right: DataFrame, key: String,
                                      counters: Seq[String], scale: Int): DataFrame = {
    def side(df: DataFrame, isLeft: Boolean) = df.select(
      Seq(col(key), lit(isLeft).as("_is_left")) ++
        Option.when(counters.nonEmpty)(struct(
          counters.map(c => col(c).cast("string").as(c)): _*).as("_vals")): _*)
    val isLeft = col("_is_left")
    val cnts = Seq(count(when(isLeft, 1)).as("cnt_left"), count(when(!isLeft, 1)).as("cnt_right"))
    // `first` skips the nulls `when` yields for the other side
    val vals =
      if (counters.isEmpty) Nil
      else Seq(first(when(isLeft, col("_vals")), ignoreNulls = true).as("_vals_left"),
        first(when(!isLeft, col("_vals")), ignoreNulls = true).as("_vals_right"))
    val aggs = cnts ++ vals
    val keyed = side(left, isLeft = true).unionByName(side(right, isLeft = false))
      .groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
    if (counters.isEmpty) keyed
    else {
      val (l, r) = (col("_vals_left"), col("_vals_right"))
      val single = col("cnt_left") === 1L && col("cnt_right") === 1L
      val cells = array(counters.map(c => struct(lit(c).as("counter"),
        l.getField(c).as("val_left"), r.getField(c).as("val_right"))): _*)
      keyed.select(col(key), col("cnt_left"), col("cnt_right"),
        filter(cells, d => single && valuesDiffer(d.getField("val_left"), d.getField("val_right"),
          scale)).as("diffs"))
    }
  }

  /** String-valued counter diff — the reference's fallback when a
    * counter fails float conversion (HlxTools.py:923-929): exact
    * inequality after the same single join.
    */
  def stringDiffs(left: DataFrame, right: DataFrame, key: String,
                  valueCol: String): DataFrame =
    left.select(col(key), col(valueCol).as("val_left"))
      .join(right.select(col(key), col(valueCol).as("val_right")), Seq(key), "inner")
      .filter(col("val_left") =!= col("val_right"))

  /** Referential integrity: fact keys absent from the dimension
    * (reference: db keys missing from the cfg table,
    * HlxTools.py:821-856). Dimension side is broadcast — at 100 TB the
    * fact never shuffles for this check. Returns a one-row summary.
    */
  def referentialSummary(fact: DataFrame, dim: DataFrame,
                         factKey: String, dimKey: String): DataFrame = {
    val orphans = fact.join(
      broadcast(dim.select(col(dimKey).as(factKey)).distinct()),
      Seq(factKey), "left_anti")
    fact.agg(count(lit(1)).as("n_facts"))
      .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
      .withColumn("n_matched", col("n_facts") - col("n_orphans"))
  }

  /** Every referential leg of one fact table in ONE pass: per leg i,
    * each fact row gets an existence flag from a broadcast of the
    * dimension's keys (an ExistenceJoin — no distinct on the
    * dimension, no change to the fact's multiplicity), and a single
    * aggregate counts `n_facts` and the flagged `n_matched_i` —
    * [[referentialSummary]]'s counts without a fact-side pass per leg.
    * `legs` are (fact key columns, dimension, dimension key columns);
    * a multi-column key compares the `concat_ws("")` of its columns,
    * as the library cycle does.
    */
  private[operators] def referentialFlags(
      fact: DataFrame, legs: Seq[(Seq[String], DataFrame, Seq[String])]): DataFrame = {
    def keyOf(cols: Seq[String]) =
      if (cols.sizeIs == 1) col(cols.head) else concat_ws("", cols.map(col): _*)
    val matched = legs.zipWithIndex.map { case ((fk, dim, dk), i) =>
      count(when(broadcast(dim.select(keyOf(dk).as(s"_rk$i")))
        .where(col(s"_rk$i") === keyOf(fk).outer()).exists(), 1)).as(s"n_matched_$i")
    }
    fact.agg(count(lit(1)).as("n_facts"), matched: _*)
  }

  /** Snapshot diff between two versions of a dataset: per key, is the
    * row `added`, `removed`, `changed`, or `unchanged` — corpus
    * versioning for a training-data pipeline (what moved between two
    * crawl snapshots) and the generalized form of the reference's
    * before/after reload comparison. One full-outer join on the key;
    * each side's payload collapses to an 8-byte xxhash64 BEFORE the
    * join, so the shuffle carries (key, hash) — never the payload
    * (at 100 TB the text column is the cost, same trick as exact
    * dedup's hash key). Spark's hash functions SKIP null inputs
    * (hash state unchanged), so a bare xxhash64(cols) would hash
    * (NULL,"x") and ("x",NULL) identically; each column's null flag
    * is interleaved into the hash stream to disambiguate position.
    */
  def snapshotDiff(base: DataFrame, current: DataFrame, key: String,
                   payload: Seq[String]): DataFrame = {
    def hashed(df: DataFrame, as: String) =
      df.select(col(key),
        xxhash64(payload.flatMap(c =>
          Seq(isnull(col(c)).cast("long"), col(c))): _*).as(as))
    hashed(base, "h_base")
      .join(hashed(current, "h_cur"), Seq(key), "full_outer")
      .select(col(key),
        when(col("h_base").isNull, "added")
          .when(col("h_cur").isNull, "removed")
          .when(col("h_base") =!= col("h_cur"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** One-scan table profile (ANALYZE-style data-quality report): for
    * each listed column, row count, null count, exact distinct count,
    * and min/max rendered as strings — the first look a data-quality
    * engineer takes at an unfamiliar or suspect feed, and the stats
    * the reconcile suites threshold against.
    *
    * All columns profile in ONE aggregation pass (Spark expands the
    * multi-distinct into one Expand + partial aggs — still a single
    * scan), and the one result row explodes to a column-per-row
    * report in-map. Profile long/string/date columns — double min/max
    * render differently across engines, so keep doubles to the
    * numeric suites. At 100 TB swap exact distinct for
    * approx_count_distinct, same shape.
    */
  def tableProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"_cnt_$c"),
        countDistinct(col(c)).as(s"_dst_$c"),
        min(col(c)).cast("string").as(s"_min_$c"),
        max(col(c)).cast("string").as(s"_max_$c"))
    }
    val total = count(lit(1)).as("_rows")
    df.agg(total, aggs: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"),
        col("_rows").as("n_rows"),
        (col("_rows") - col(s"_cnt_$c")).as("n_nulls"),
        col(s"_dst_$c").as("n_distinct"),
        col(s"_min_$c").as("min_str"),
        col(s"_max_$c").as("max_str"))): _*)).as("p"))
      .select("p.*")
  }

  /** Schema (missing-column) comparison, reference
    * HlxTools.py:806-818: columns expected by the spec but absent from
    * the data, and vice versa. Pure metadata — no job runs.
    */
  def missingColumns(expected: Seq[String], df: DataFrame): (Seq[String], Seq[String]) = {
    val have = df.columns.toSeq
    (expected.diff(have), have.diff(expected))
  }

  /** Order-insensitive per-partition table checksum — the O(rows)
    * cross-system reconciliation primitive: when two copies of a
    * 100 TB table must be compared, shipping sorted rows (C2's
    * missing-records join) costs a full shuffle on both sides, but a
    * per-row hash SUMMED within each partition bucket costs one
    * map-side-combined pass each and compares |buckets| rows. A
    * mismatched bucket then — and only then — escalates to the
    * row-level C2 compare ON THAT BUCKET. The row hash here is
    * deliberately portable integer arithmetic (mod-reduced linear
    * combination of the key columns, every term < 2⁴², so a
    * billion-row bucket stays within BIGINT) rather than an
    * engine-private hash (`xxhash64`'s seed/variant differs across
    * engines — this checksum must be computable by BOTH sides of the
    * reconciliation from SQL alone). Sensitive to every bit of the
    * inputs, insensitive to row order by construction.
    */
  def bucketChecksums(events: DataFrame): DataFrame =
    events
      .select(to_date(col("ts")).as("day"),
        expr("""(event_id % 1000003L) * 2097143L
          + (user_id % 1000033L) * 4093L
          + unix_micros(ts) % 1000000007L""").as("h"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("checksum"))

  /** Primary-key uniqueness check: every key tuple appearing more
    * than once, with its multiplicity — the load-gate every
    * DBLoader-style pipeline runs before an idempotent reload
    * (duplicate keys break delete-by-key semantics silently). One
    * map-side-combined count per key; only violations survive, so
    * the output is empty on a healthy table at any scale.
    */
  def duplicateKeys(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_copies"))
      .filter(col("n_copies") >= 2)

  /** Rollup-cascade integrity audit — the reference's compare_data
    * spirit pointed at the warehouse's own aggregates: the daily
    * rollup computed DIRECTLY from raw must equal the daily rollup
    * re-aggregated from the 5-minute cascade, bucket for bucket.
    * Because the cascade carries sums through DECIMAL, equality is
    * exact (not tolerance-based); a full-outer join catches buckets
    * one path dropped entirely. The continuous-monitoring query a
    * warehouse runs after every maintenance cycle.
    */
  def rollupAudit(events: DataFrame): DataFrame = {
    val direct = Rollups.perType(events, 86400)
      .select(col("bucket_start"), col("event_type"),
        col("n_events").as("n_direct"), col("sum_value").as("sum_direct"))
    val cascaded = Rollups.coarsen(Rollups.fiveMinute(events), 86400)
      .select(col("bucket_start"), col("event_type"),
        col("n_events").as("n_cascaded"), col("sum_value").as("sum_cascaded"))
    direct.join(cascaded, Seq("bucket_start", "event_type"), "full_outer")
      .select(col("bucket_start"), col("event_type"),
        coalesce(col("n_direct"), lit(0L)).as("n_direct"),
        coalesce(col("n_cascaded"), lit(0L)).as("n_cascaded"),
        coalesce(col("sum_direct"), lit(0.0)).as("sum_direct"),
        coalesce(col("sum_cascaded"), lit(0.0)).as("sum_cascaded"))
      .withColumn("is_match",
        col("n_direct") === col("n_cascaded") &&
          col("sum_direct") === col("sum_cascaded"))
  }

  /** Deterministic key-sampled reconciliation — the 100 TB compare
    * mode: both sides filter to the SAME `key mod modulus == residue`
    * slice before any join, so the sample predicate pushes into both
    * scans and the compare touches 1/modulus of each system while
    * still pairing every sampled key with its counterpart (a random
    * sample would pair almost nothing). Any keyed compare composes
    * downstream; this wires the multi-counter diff. The report notes
    * the sampled universe so a 0-diff result is read as "clean at
    * 1/modulus coverage", not "clean".
    */
  def sampledValueDiffs(left: DataFrame, right: DataFrame, key: String,
                        counters: Seq[String], tolerance: Double,
                        modulus: Int, residue: Int = 0): DataFrame = {
    def sample(df: DataFrame) = df.filter(col(key) % modulus === residue)
    valueDiffsMulti(sample(left), sample(right), key, counters, tolerance)
      .withColumn("sample_modulus", lit(modulus.toLong))
  }

  /** Column-statistics drift between two snapshots of a table — the
    * migration/regression gate that catches what a row-count compare
    * cannot (a column silently nulling out, a cardinality collapse, a
    * range shift), without ever joining the fact tables themselves:
    * each side reduces to its [[tableProfile]] (ONE scan each, all
    * columns in one aggregation pass, |cols| rows out) and the diff
    * is a broadcast join of two column-sized reports. Null-safe
    * min/max compare, signed deltas for count-like stats.
    */
  def profileDiff(left: DataFrame, right: DataFrame,
                  cols: Seq[String]): DataFrame = {
    def side(df: DataFrame, p: String) =
      tableProfile(df, cols).select(
        col("col_name"),
        col("n_rows").as(s"${p}_rows"),
        col("n_nulls").as(s"${p}_nulls"),
        col("n_distinct").as(s"${p}_distinct"),
        col("min_str").as(s"${p}_min"),
        col("max_str").as(s"${p}_max"))
    side(left, "l").join(broadcast(side(right, "r")), "col_name")
      .select(col("col_name"),
        col("l_rows"), col("r_rows"),
        (col("r_rows") - col("l_rows")).as("rows_delta"),
        (col("r_nulls") - col("l_nulls")).as("nulls_delta"),
        (col("r_distinct") - col("l_distinct")).as("distinct_delta"),
        (!(col("l_min") <=> col("r_min"))).as("min_changed"),
        (!(col("l_max") <=> col("r_max"))).as("max_changed"))
  }

  /** Functional-dependency discovery: does column A determine column
    * B? — the other half of the data-catalog profile
    * ([[joinKeyDiscovery]] finds the keys that JOIN; this finds the
    * hierarchies WITHIN a table: order → customer, city → region). A
    * dependency A→B holds iff no A value maps to two B values; the
    * report counts the violating keys, so a "nearly holds" (data
    * error) is distinguishable from "unrelated".
    *
    * Scale: all candidate pairs stack into ONE union and reduce
    * map-side to (pair, det_value) groups — the heavy aggregation is
    * one pass over pairs×rows projections of the scan, and the second
    * aggregation input is distinct-keys-sized. Values compare as
    * strings so any column type participates.
    */
  def functionalDependencies(df: DataFrame, tag: String,
                             pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "need at least one candidate pair")
    val stacked = pairs.map { case (a, b) =>
      df.select(
        lit(s"$tag.$a").as("determinant"), lit(s"$tag.$b").as("dependent"),
        col(a).cast("string").as("det"), col(b).cast("string").as("dep"))
    }.reduce(_ unionByName _)
    stacked
      .groupBy(col("determinant"), col("dependent"), col("det"))
      .agg(count_distinct(col("dep")).as("nd"))
      .groupBy(col("determinant"), col("dependent"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_violating"))
      .withColumn("holds", col("n_violating") === 0L)
  }

  /** Join-key discovery: which columns JOIN — the data-catalog
    * primitive behind "can I enrich this fact with that dimension?"
    * on an undocumented warehouse. Every candidate column reduces to
    * its distinct value set (tagged with `table.column`), the sets
    * meet in ONE value-keyed equi-join, and each surviving pair
    * reports overlap and directional containment — containment ≈ 1.0
    * in one direction is the foreign-key signature (every fact key
    * exists in the dimension), ≈ 1.0 both ways is a shared domain.
    *
    * Scale: the distinct collapses each column map-side BEFORE the
    * join, so the join carries one row per distinct value per column
    * — key-space-sized, not fact-sized; the pair report is
    * columns²-sized. A hot value (a default/sentinel shared by many
    * columns) fans out at most columns² per value. At 100 TB swap
    * the exact sets for bottom-k minwise sketches (the
    * `vocabJaccardMatrix` machinery) — same report, fixed-size
    * per-column state; exact form stays the oracle twin.
    */
  def joinKeyDiscovery(cols: Seq[(String, DataFrame, String)]): DataFrame = {
    require(cols.size >= 2, "need at least two candidate columns")
    // One pass, one fact-sized shuffle. The former shape reduced each
    // column to its distinct set (one exchange per column) and met the
    // sets in a value-keyed self-join — but the self-join's two sides
    // plus the per-column count table re-evaluated every scan and
    // distinct exchange three times. Here each value groups ONCE into
    // its set of containing columns (collect_set partial-aggregates
    // map-side, so the exchange carries at most one row per distinct
    // (value, column)); cross pairs (a < b) count co-occurrences and
    // self pairs (a = a) count each column's distinct values — both
    // out of the same bounded-by-cols² in-map expansion (PairCombos,
    // the coSupplierEdges kernel). Columns index in SORTED tag order
    // so pair orientation (col_a < col_b) is byte-identical to the
    // tag-string comparison the report is defined by.
    val tags = cols.map(_._1)
    val idxOf = tags.sorted.zipWithIndex.toMap
    val tagName = {
      val sortedTags = tags.sorted
      (c: org.apache.spark.sql.Column) =>
        element_at(array(sortedTags.map(lit): _*), c.cast("int") + 1)
    }
    val tagged = cols.map { case (tag, df, c) =>
      df.select(col(c).cast("long").as("v")).filter(col("v").isNotNull)
        .select(lit(idxOf(tag).toLong).as("t"), col("v"))
    }.reduce(_ unionByName _)
    val pairCounts = tagged
      .groupBy(col("v"))
      .agg(sort_array(collect_set(col("t"))).as("ts"))
      .select(explode(concat(
        graft.functions.TextHashFunctions.pairCombos(col("ts")),
        transform(col("ts"), t => struct(t.as("a"), t.as("b"))))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n"))
    val counts = pairCounts.filter(col("a") === col("b"))
      .select(col("a").as("t"), col("n"))
    pairCounts.filter(col("a") < col("b"))
      .withColumnRenamed("n", "n_common")
      .join(broadcast(counts.select(col("t").as("a"), col("n").as("n_a"))), "a")
      .join(broadcast(counts.select(col("t").as("b"), col("n").as("n_b"))), "b")
      .select(tagName(col("a")).as("col_a"), tagName(col("b")).as("col_b"),
        col("n_a"), col("n_b"), col("n_common"),
        (col("n_common").cast("double") / col("n_a")).as("containment_a_in_b"),
        (col("n_common").cast("double") / col("n_b")).as("containment_b_in_a"))
  }
}
