package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Core relational operators from SURVEY §2 (scans/filters/projections
  * §2.2, aggregations §2.4, sorts/top-k §2.6, set ops §2.7), re-expressed
  * over the generic star-schema test tables.
  *
  * Every query here is a declarative single-pass plan: filters sit
  * directly on the scan (parquet pushdown), aggregates are partial→final
  * (map-side combine), and top-k compiles to `TakeOrderedAndProject` (no
  * full sort). Columns are aliased to match the DuckDB oracle SQL in
  * [[graft.SparkEntry.oracleSql]].
  *
  * Float policy for oracle comparison: sums of large doubles are rounded
  * to 0 decimals (summation order differs between engines; error
  * ~1e-2 at 60k rows), averages/medians to 4, correlations to 6.
  */
object Relational {

  /** Flagship pricing-summary aggregate (TPC-H Q1 shape) — the analog of
    * the reference's partial+final avg pattern (SURVEY A4,
    * `analytics_pandas.py:188-244`), which Spark's HashAggregate does
    * natively. */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 0).as("sum_qty"),
        round(sum("l_extendedprice"), 0).as("sum_base"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")

  /** S1/S2/P1: scan + predicate pushdown + column projection
    * (`etl_yellow_s3.py:47,51`; `analytics_pandas.py:73-84`). */
  def scanFilterProject(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_quantity") > 30 && col("l_discount") > 0.05)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  /** P4: year-range filter on a derived column
    * (`analytics_yellow_s3.py:13`). */
  def yearRangeCounts(orders: DataFrame): DataFrame =
    orders
      .filter(year(col("o_orderdate")).between(1996, 1998))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 0).as("total"))
      .orderBy("o_year")

  /** P5: set-membership filters (airport-zone / nightlife-hour analog,
    * `part2.ipynb` cells 19, 21). */
  def setMembership(events: DataFrame): DataFrame =
    events
      .filter(col("event_type").isin("click", "view") &&
        hour(col("ts")).isin(20, 21, 22, 23, 0, 1, 2, 3, 4))
      .groupBy(col("event_type"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("cnt"), round(avg("value"), 4).as("avg_value"))
      .orderBy("event_type", "hr")

  /** P7+P8: regex-guarded safe cast (`utils.py:30-32`) over a value
    * extracted from a JSON-ish string column. */
  def safeCastSum(events: DataFrame): DataFrame = {
    val raw = regexp_extract(col("props"), "\"k\": (-?\\d+)", 1)
    events
      .withColumn("k", when(raw.rlike("^-?\\d+(\\.\\d+)?$"), raw.cast("double")))
      .groupBy("event_type")
      .agg(round(sum("k"), 0).as("sum_k"), count(col("k")).as("cnt_k"))
      .orderBy("event_type")
  }

  /** P10/P11: guarded ratio (speed / fare-per-mile analog,
    * `utils.py:75-76`). */
  def guardedRatio(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy("l_returnflag")
      .agg(
        round(avg(when(col("l_quantity") > 0,
          col("l_extendedprice") / col("l_quantity"))), 4).as("avg_unit_price"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag")

  /** P12: clipped unit price (`part2.ipynb` cells 11, 27 — clip ≤ cap). */
  def clippedRatio(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_quantity") > 0)
      .groupBy("l_linestatus")
      .agg(round(avg(least(col("l_extendedprice") / col("l_quantity"), lit(2000.0))), 4)
        .as("avg_clipped_unit_price"))
      .orderBy("l_linestatus")

  /** A2/P13: counts by day-of-week name (`analytics_yellow_s3.py:21-23`,
    * `date_format 'E'` per `utils.py:81`). */
  def countsByDow(events: DataFrame): DataFrame =
    events
      .groupBy(date_format(col("ts"), "E").as("dow"))
      .agg(count(lit(1)).as("trip_count"))
      .orderBy("dow")

  /** T4: categorical weekday ordering — the reference reindexes pandas
    * frames to Mon..Sun (`plot_analytics.py:23`); here the sort key is
    * `array_position` against the ordered day list. */
  def dowOrderedCounts(events: DataFrame): DataFrame = {
    val days = Seq("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")
    events
      .groupBy(date_format(col("ts"), "E").as("dow"))
      .agg(count(lit(1)).as("trip_count"))
      .orderBy(array_position(typedlit(days), col("dow")))
  }

  /** The shared keep/drop band of [[hashSample]] and
    * [[stratifiedHashSample]] (and the SQL oracles' `fnv % 100` mirror):
    * one definition so the hash-keep contract can never drift between
    * the flat and stratified forms. */
  private def fnvBand100(keyCol: String): Column =
    pmod(graft.functions.HashExpressions.fnv1a32(col(keyCol).cast("string")),
      lit(100L))

  /** Deterministic hash-based sampling: keep rows whose
    * `fnv1a32(key) mod 100` falls under `pct`. The keep/drop decision is
    * a pure function of the key — unlike seeded-RNG `sample` (P6) it is
    * stable across retries, repartitioning, and engine versions,
    * consistent for a key ACROSS tables (sample users, not rows), and
    * exactly reproducible by any engine with the same hash — which is
    * what lets this be a fully pinned gate where p6 needs invariant
    * bounds. At 100 TB this is the only sampling form that survives
    * speculative re-execution without ghost rows. */
  def hashSample(df: DataFrame, keyCol: String, pct: Int): DataFrame =
    df.filter(fnvBand100(keyCol) < pct)

  /** Stratified [[hashSample]]: a different keep-rate per stratum value
    * (e.g. "100% of books, 10% of web") resolved row-locally from a
    * literal when-chain — one pass, no shuffle, no per-stratum jobs,
    * and the same determinism/cross-table-consistency contract as
    * [[hashSample]]. Strata absent from `pctByStratum` fall back to
    * `defaultPct`. */
  def stratifiedHashSample(df: DataFrame, keyCol: String, strataCol: String,
                           pctByStratum: Map[String, Int],
                           defaultPct: Int = 0): DataFrame = {
    val pct = pctByStratum.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (sv, p)) => when(col(strataCol) === sv, lit(p)).otherwise(acc)
    }
    df.filter(fnvBand100(keyCol) < pct)
  }

  /** P14/A6: month→season bucket + rollup sums
    * (`analytics_summary.py:13-14,32-61`). */
  def seasonTotals(orders: DataFrame): DataFrame = {
    val m = month(col("o_orderdate"))
    orders
      .groupBy(graft.taxi.Cleaning.season(m).as("season"))
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 0).as("total"))
      // season is null for null dates; pin the null position explicitly
      // (Spark defaults nulls-first, DuckDB nulls-last — a6/a28 handle
      // this the same way)
      .orderBy(asc_nulls_first("season"))
  }

  /** A6 as a true multi-level ROLLUP — the reference runs three separate
    * groupbys (monthly/seasonal/yearly, `analytics_summary.py:32-61`);
    * one rollup pass computes all levels in a single shuffle. */
  def rollupTotals(orders: DataFrame): DataFrame =
    orders
      .rollup("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 0).as("total"))
      .orderBy(asc_nulls_first("o_orderpriority"), asc_nulls_first("o_orderstatus"))

  /** Key-distribution skew report: the top-`topK` heaviest keys with
    * their share of all rows, plus the global key count and the
    * max/mean group-size ratio — the numbers that decide whether a join
    * on this key needs [[Skew.saltedJoin]], a broadcast, or nothing.
    * One partial→final count per key plus a 1-row broadcast; the heavy
    * tail never leaves the executors ([[heavyHitters]] is the sketch
    * twin when even the per-key count is too wide). */
  def keySkewReport(df: DataFrame, key: String, topK: Int = 5): DataFrame = {
    val counts = df.groupBy(key).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum("cnt").as("_total"),
      count(lit(1)).as("n_keys"), max("cnt").as("_max"), avg("cnt").as("_avg"))
    counts.crossJoin(broadcast(totals))
      .select(col(key), col("cnt"),
        round(col("cnt") / col("_total"), 6).as("share"),
        col("n_keys"),
        round(col("_max") / col("_avg"), 4).as("max_over_avg"))
      .orderBy(desc("cnt"), col(key)).limit(topK)
  }

  /** CUBE over both grouping dimensions — every (flag, status) cell
    * plus both one-dimension margins plus the grand total in ONE
    * aggregation pass (Catalyst expands the grouping sets map-side; no
    * per-margin rescan). Superset of [[rollupTotals]]'s hierarchy. */
  def cubeTotals(lineitem: DataFrame): DataFrame =
    lineitem
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 0).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** Arbitrary GROUPING SETS in one pass — the general form ROLLUP and
    * CUBE are shorthand for, for set lists neither shorthand can express
    * (here: per (flag,status) detail, per-STATUS margin, grand total —
    * a non-hierarchical list, so not a ROLLUP). One Expand+aggregate,
    * no per-margin rescan; same engine shape as [[cubeTotals]]. */
  def groupingSetTotals(lineitem: DataFrame): DataFrame =
    lineitem
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 0).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** A1: avg + count by hour (`analytics_yellow_s3.py:15-18`). */
  def hourlyProfile(events: DataFrame): DataFrame =
    events
      .groupBy(hour(col("ts")).as("hr"))
      .agg(round(avg("value"), 4).as("avg_value"), count(lit(1)).as("cnt"))
      .orderBy("hr")

  /** A3+T1: busiest-key top-100 (`analytics_yellow_s3.py:25-28`) —
    * plans as TakeOrderedAndProject, not a full sort. */
  def busiestKeys(orders: DataFrame): DataFrame =
    orders
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("trip_count"))
      .orderBy(desc("trip_count"), asc("o_custkey"))
      .limit(100)

  /** A7/A12: grouped stats incl. exact median (reference uses exact
    * pandas medians — `comprehensive_trip_analysis.ipynb` cell 6; we use
    * exact `percentile`, matching DuckDB `quantile_cont`). */
  def groupedStats(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("cnt"),
        round(sum("l_extendedprice"), 0).as("sum_price"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"))
      .orderBy("l_returnflag")

  /** A10: conditional baseline pct (COVID-baseline pattern,
    * `comprehensive_trip_analysis.ipynb` cell 18). */
  def baselineRatio(orders: DataFrame): DataFrame =
    orders
      .groupBy("o_orderpriority")
      .agg(
        round(avg(when(col("o_orderdate") < lit("1998-01-01").cast("date"),
          col("o_totalprice"))), 4).as("baseline_avg"),
        round(avg("o_totalprice"), 4).as("overall_avg"))
      .withColumn("pct_of_baseline",
        round(col("overall_avg") / col("baseline_avg") * 100.0, 4))
      .orderBy("o_orderpriority")

  /** A12: median by group (`part2.ipynb` cells 17, 27). */
  def medianByGroup(events: DataFrame): DataFrame =
    events
      .groupBy("event_type")
      .agg(round(expr("percentile(value, 0.5)"), 4).as("median_value"),
        count(lit(1)).as("cnt"))
      .orderBy("event_type")

  /** Group-wise winsorization: clamp a value column at its OWN group's
    * exact [lo, hi] quantiles before computing stats — the robust-mean
    * treatment the reference applies globally via hand-picked outlier
    * ranges (P3), generalized to data-driven per-group bounds.
    *
    * Scale shape: pass 1 computes per-group exact `percentile` bounds
    * (group count is small — the bounds table broadcasts); pass 2 clamps
    * row-locally and aggregates partial→final. Exact quantiles are the
    * correctness tier (matches DuckDB `quantile_cont`); at 100 TB swap
    * `percentile` for `percentile_approx` — the a27-gated sketch twin —
    * and the plan shape is unchanged. */
  def winsorizedStats(df: DataFrame, groupCol: String, valueCol: String,
                      lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    require(lo >= 0.0 && hi <= 1.0 && lo < hi,
      s"winsorize bounds must satisfy 0 <= lo < hi <= 1, got [$lo, $hi]")
    require(valueCol.matches("[A-Za-z0-9_]+"),
      s"winsorize valueCol must be a plain identifier, got '$valueCol'")
    val bounds = df.groupBy(groupCol)
      .agg(expr(s"percentile($valueCol, array($lo, $hi))").as("_q"))
      .select(col(groupCol), col("_q")(0).as("_lo"), col("_q")(1).as("_hi"))
    df.join(broadcast(bounds), groupCol)
      .withColumn("_w", least(greatest(col(valueCol), col("_lo")), col("_hi")))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        round(avg(valueCol), 4).as("mean_raw"),
        round(avg("_w"), 4).as("mean_winsorized"),
        round(min("_w"), 4).as("w_lo"),
        round(max("_w"), 4).as("w_hi"))
      .orderBy(groupCol)
  }

  /** A16: distribution segmentation via conditional counts
    * (`cab_wise_analysis.ipynb` cell 13:567-589). */
  def segmentation(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy("l_linestatus")
      .agg(
        count(when(col("l_quantity") <= 10, 1)).as("small"),
        count(when(col("l_quantity") > 10 && col("l_quantity") <= 25, 1)).as("medium"),
        count(when(col("l_quantity") > 25, 1)).as("large"),
        round(min("l_quantity"), 4).as("min_qty"),
        round(max("l_quantity"), 4).as("max_qty"))
      .orderBy("l_linestatus")

  /** A17: value_counts top-k (`cab_wise_analysis.ipynb` cell 5:185). */
  def valueCountsTopK(part: DataFrame): DataFrame =
    part
      .groupBy("p_brand")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("p_brand"))
      .limit(10)

  /** A18: histogram by fixed-width bin (`analytics_yellow.ipynb` cell 10). */
  def histogram(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(floor(col("l_extendedprice") / 5000).as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bin")

  /** A19: pivot year × status revenue
    * (`comprehensive_trip_analysis.ipynb` cell 16). */
  def revenuePivot(orders: DataFrame): DataFrame =
    orders
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(round(sum("o_totalprice"), 0))
      .orderBy("o_year")

  /** A21: correlation + OLS slope via covar/var (`part2.ipynb` cell 29). */
  def corrAndSlope(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy("l_returnflag")
      .agg(
        round(corr("l_quantity", "l_extendedprice"), 6).as("r"),
        round(covar_samp("l_quantity", "l_extendedprice") /
          var_samp(col("l_quantity")), 4).as("ols_slope"))
      .orderBy("l_returnflag")

  /** Heavy hitters via the frequent-items sketch (`stat.freqItems`,
    * Karp-Shenker-Papadimitriou): one pass, fixed memory per partition,
    * no shuffle of per-key counts — the sketch twin of the exact
    * `valueCountsTopK`. Returns a superset of items with frequency ≥
    * `support` (possible false positives, no false negatives); exact
    * counts for the candidate set are one cheap semi-joined aggregation
    * away when needed. */
  def heavyHitters(df: DataFrame, column: String, support: Double = 0.1): DataFrame =
    df.stat.freqItems(Array(column), support)

  /** The maximum FNV-1a32 hash value + 1 — hashes map into [0, 2^32). */
  private val KmvMaxH = 4294967296L

  /** Per-group bottom-k hash rows `(g, h, rk)` — the KMV sketch state —
    * WITHOUT a full per-group sort of all distinct hashes. A plain
    * bottom-k window over the distinct (group, hash) table is a full
    * per-group sort to keep k rows: at a billion distinct values in one
    * group that is the operator's scale killer (round-10 VERDICT item
    * 2). Instead:
    *
    *   1. one partial-agg pass estimates each group's distinct count
    *      (`approx_count_distinct` — map-side combined, no distinct
    *      shuffle);
    *   2. hashes are uniform on [0, 2^32), so the kth smallest of nd
    *      distinct sits near `k/nd · 2^32`; a pre-filter at
    *      `factor·k/nd · 2^32` (factor 8 ⇒ P[shortfall] is a Chernoff
    *      tail at mean 8k vs k — astronomically small, and the 5%
    *      `approx_count_distinct` rsd is swamped) shrinks BOTH the
    *      distinct aggregate and the window sort to ~factor·k rows per
    *      group, with duplicate multiplicity dropped by the same filter
    *      BEFORE any shuffle;
    *   3. a group that still lands short of k candidates UNDER a real
    *      cut (bound < 2^32) provably may have missed hashes — it
    *      retries at factor×8; a group with bound = 2^32 was never
    *      filtered, so its < k candidates are genuinely all of them.
    *      Termination is unconditional: factor growth drives every
    *      bound to 2^32 within ≤ 9 escalations (nd ≤ 2^32 by pigeonhole
    *      on 32-bit hashes).
    *
    * The returned rows are the TRUE bottom-k whichever attempt
    * succeeded — bit-identical to the plain-window reference
    * (KmvSpec asserts it, including a forced-shortfall retry at
    * initialFactor = 1).
    *
    * NULL values contribute no hash: `h IS NULL` rows are dropped up
    * front, matching SQL `count(DISTINCT v)` semantics (NULLs are not
    * distinct values) — the contract [[kmvDistinctEstimate]] and
    * [[kmvSetOps]] document and their oracles replay explicitly.
    *
    * The per-round bound is computed in DOUBLE (`k·factor/nd · 2^32`,
    * floored): exact 64-bit integer arithmetic overflows once
    * `k·factor > 2^31` on the retry-escalation path (k = 256 reaches
    * it after 7 shortfalls), and under Spark 4's ANSI mode that
    * overflow THROWS — contradicting the unconditional-termination
    * guarantee. A ±1-ULP-loose double bound only perturbs the
    * pre-filter's candidate set, never the result: whichever rows
    * survive, the exact bottom-k window and the shortfall check decide
    * correctness. */
  private[graft] def kmvBottomK(df: DataFrame, groupCol: String, hash: Column,
                                k: Int, initialFactor: Long = 8,
                                broadcastGroupLimit: Long = 1L << 20): DataFrame = {
    val raw = df.select(col(groupCol).as("g"), hash.as("h"))
      .filter(col("h").isNotNull)
    val nd = raw.groupBy("g").agg(approx_count_distinct(col("h")).as("nd"))
      .localCheckpoint(eager = true)
    val w = Window.partitionBy("g").orderBy("h")
    var pending = nd
    var nPending = nd.count()
    var factor = math.max(1L, initialFactor)
    var out: DataFrame = null
    while (nPending > 0) {
      val bounds = pending.select(col("g"),
        when(col("nd") <= lit(k.toDouble * factor), lit(KmvMaxH))
          .otherwise(least(lit(KmvMaxH),
            floor(lit(k.toDouble * factor) / col("nd") * lit(KmvMaxH))
              .cast("long")))
          .as("bound"))
      // joins below use null-safe equality: a NULL group key is a
      // legitimate group for the sketch (GROUP BY semantics), and a
      // plain equi-join would silently drop it. The bounds frame is ONE
      // 16-byte row per group, but "one row per group" is NOT
      // broadcast-able by construction: at 10^8-10^9 groups (per-URL /
      // per-user sketches) a forced broadcast collects the whole frame
      // to the driver and ships it to every executor — the many-groups
      // regime would die where the plain window form survived. The
      // prefilter join is therefore REGIME-ADAPTIVE on the known group
      // count (one count() on the checkpointed agg): broadcast while
      // the frame is genuinely small, shuffle-hash otherwise. Either
      // hint is load-bearing — left to stats, the checkpointed agg
      // pessimistically SMJ'd and shuffled+SORTED the whole raw side
      // (measured 182 MB at the 20M-row probe); broadcast makes the
      // pre-filter a map-side lookup, shuffle-hash keeps the raw side
      // sort-free and hash-partitions both sides on g. KmvSpec pins
      // both regimes to the same reference; PlanAuditSpec pins the
      // chosen strategy per regime.
      val boundsR = bounds.withColumnRenamed("g", "bg")
      val prefiltered =
        (if (nPending <= broadcastGroupLimit)
           raw.join(broadcast(boundsR), col("g") <=> col("bg"))
         else raw.join(boundsR.hint("shuffle_hash"), col("g") <=> col("bg")))
        .filter(col("h") <= col("bound"))
        .select("g", "h").distinct()
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
      lastPrefilterPlan = prefiltered.queryExecution.executedPlan.toString
      val kept = prefiltered.localCheckpoint(eager = true)
      // done: a full sketch (k rows) OR an unfiltered group (bound maxed
      // — fewer than k distinct hashes genuinely exist); note a group
      // with ZERO surviving candidates has no `kept` rows at all, so
      // doneness is judged on the bounds frame
      val sizes = kept.groupBy("g").agg(count(lit(1)).as("n_cand"))
      val doneG = bounds
        .join(sizes.withColumnRenamed("g", "sg"),
          col("g") <=> col("sg"), "left")
        .filter(coalesce(col("n_cand"), lit(0L)) === k
          || col("bound") === KmvMaxH)
        .select("g").withColumnRenamed("g", "dg")
        .localCheckpoint(eager = true)
      val batch = kept.join(doneG, col("g") <=> col("dg"), "left_semi")
        .select("g", "h", "rk")
      out = if (out == null) batch.localCheckpoint(eager = true)
      else out.unionByName(batch).localCheckpoint(eager = true)
      pending = pending.join(doneG, col("g") <=> col("dg"), "left_anti")
        .localCheckpoint(eager = true)
      nPending = pending.count()
      factor *= 8
    }
    if (out == null) raw.limit(0).withColumn("rk", lit(1)) else out
  }

  /** Executed plan of the LAST [[kmvBottomK]] prefilter round in this
    * JVM — diagnostic only (PlanAuditSpec pins the regime-adaptive
    * join strategy through it; the loop's eager checkpoints mean the
    * gate's final plan no longer contains the join). Last-writer-wins
    * global: valid only when the read is single-threaded with the
    * call, as the spec sites are — concurrent queries would observe
    * another call's plan. */
  @volatile private[graft] var lastPrefilterPlan: String = ""

  /** KMV (k-minimum-values / bottom-k) distinct-count sketch per group
    * (Bar-Yossef et al. 2002; the Theta-sketch building block):
    * `estimate = (k−1) / u_(k)` where `u_(k)` is the k-th smallest
    * hash mapped to (0,1). Unlike HLL (dq2), the sketch state is an
    * EXACT deterministic function of the input — the k smallest FNV
    * hashes — so an oracle pins the estimate bit-for-bit, and two
    * sketches merge by keeping the k smallest of the union (order-
    * insensitive; KmvSpec proves merge ≡ rebuild). Groups with fewer
    * than k distinct hashes report their exact count.
    *
    * NULL `valueCol` rows are excluded — `count(DISTINCT v)` semantics
    * (NULL is not a distinct value); the oracle filters them the same
    * way.
    *
    * Scale shape: [[kmvBottomK]] — a threshold pre-filter sized by a
    * cheap approximate-distinct pass collapses the giant-group full
    * sort to ~8k candidate rows per group before the exact bottom-k
    * window runs (shortfall retries loudly documented there), and the
    * prefilter join adapts to the GROUP-count regime (broadcast for
    * few groups, shuffle-hash for many). */
  def kmvDistinctEstimate(df: DataFrame, groupCol: String, valueCol: String,
                          k: Int = 256): DataFrame = {
    require(k >= 2, s"kmv: need k >= 2, got $k")
    kmvBottomK(df, groupCol,
        graft.functions.HashExpressions.fnv1a32(col(valueCol)), k)
      .groupBy("g")
      .agg(count(lit(1)).as("n_kept"),
        max(when(col("rk") === k, col("h"))).as("kth"))
      .select(col("g").as(groupCol), col("n_kept"),
        round(when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit(k - 1.0) / (col("kth") / 4294967296.0)), 4)
          .as("kmv_estimate"))
      .orderBy(groupCol)
  }

  /** KMV set-operation estimates between two groups' value sets (the
    * Theta-sketch composition): build each side's bottom-k sketch, take
    * the k smallest hashes of their UNION as the combined sketch K,
    * and estimate `jaccard = |{h ∈ K : h ∈ A ∧ h ∈ B}| / |K|`,
    * `union = (|K|−1)/u_(|K|)`, `intersection = jaccard · union`
    * (Beyer et al., SIGMOD 2007). Per-side sketches come from
    * [[kmvBottomK]] (threshold-prefiltered — no full per-side sort);
    * everything after runs on ≤2k hash rows; exact-below-k sides degrade to the
    * exact set math automatically (K is then the true union).
    * Deterministic — the oracle replays it bit-for-bit. */
  def kmvSetOps(df: DataFrame, groupCol: String, valueCol: String,
                groupA: String, groupB: String, k: Int = 256): DataFrame = {
    require(k >= 2, s"kmv: need k >= 2, got $k")
    val relabeled = df.filter(col(groupCol).isin(groupA, groupB))
      .select(when(col(groupCol) === groupA, "a").otherwise("b").as("side"),
        col(valueCol).as("v"))
    val sketches = kmvBottomK(relabeled, "side",
      graft.functions.HashExpressions.fnv1a32(col("v")), k)
    // combined sketch: k smallest of the union of the two sketch sets
    val union = sketches.select("h").distinct()
      .withColumn("urk", row_number().over(Window.orderBy("h")))
      .filter(col("urk") <= k)
    val flags = union
      .join(sketches.filter(col("g") === "a").select(col("h"),
        lit(1L).as("in_a")), Seq("h"), "left")
      .join(sketches.filter(col("g") === "b").select(col("h"),
        lit(1L).as("in_b")), Seq("h"), "left")
    flags.agg(count(lit(1)).as("k_eff"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
          .as("n_both"),
        max(col("h")).as("kth"))
      .select(col("k_eff"), col("n_both"),
        round(col("n_both").cast("double") / col("k_eff"), 6)
          .as("est_jaccard"),
        round(when(col("k_eff") < k, col("k_eff").cast("double"))
          .otherwise((col("k_eff") - 1.0) / (col("kth") / 4294967296.0)), 4)
          .as("est_union"),
        round((col("n_both").cast("double") / col("k_eff"))
          * when(col("k_eff") < k, col("k_eff").cast("double"))
            .otherwise((col("k_eff") - 1.0) / (col("kth") / 4294967296.0)), 4)
          .as("est_intersection"))
  }

  /** Sketch-then-verify heavy hitters: the one-pass KSP sketch proposes a
    * candidate superset (no false negatives for frequency > `support`),
    * then ONE semi-joined aggregation over just the candidate values
    * computes exact counts and drops the false positives. The result is
    * the EXACT set {v : freq(v) > support·N} — oracle-pinnable — while
    * the full-table work stays sketch-shaped: no per-key shuffle of the
    * whole key space, only the (tiny, broadcast) candidate set hits the
    * exact-count aggregation. */
  def verifiedHeavyHitters(df: DataFrame, column: String, support: Double): DataFrame = {
    val cands = heavyHitters(df, column, support)
      .select(explode(col(s"${column}_freqItems")).as(column))
    val counts = df.join(broadcast(cands), Seq(column), "left_semi")
      .groupBy(column).agg(count(lit(1)).as("cnt"))
    val total = df.agg(count(lit(1)).as("n_total"))
    counts.crossJoin(broadcast(total))
      .filter(col("cnt") > col("n_total") * support)
      .select(col(column), col("cnt"))
      .orderBy(desc("cnt"), col(column))
  }

  /** U1: union-by-name over divergent schemas — `pd.concat` NaN-fill
    * semantics (`part2.ipynb` cell 2:99) via
    * `unionByName(allowMissingColumns=true)`. */
  def unionByNameEntities(customer: DataFrame, supplier: DataFrame): DataFrame = {
    val c = customer.select(
      lit("customer").as("kind"), col("c_custkey").as("id"),
      col("c_name").as("name"), col("c_acctbal").as("acctbal"),
      col("c_mktsegment").as("segment"))
    val s = supplier.select(
      lit("supplier").as("kind"), col("s_suppkey").as("id"),
      col("s_name").as("name"), col("s_acctbal").as("acctbal"))
    c.unionByName(s, allowMissingColumns = true).orderBy("kind", "id")
  }

  /** Wide→long reshape (`melt`): per-flag summary pivoted so each
    * (group, metric) pair is one row — the inverse surface of
    * [[revenuePivot]], via the built-in `unpivot` (Spark 3.4+), which
    * stays a narrow row-local Expand under codegen (no shuffle beyond
    * the input aggregation). */
  def unpivotSummary(lineitem: DataFrame): DataFrame =
    lineitem.groupBy("l_returnflag")
      .agg(
        round(sum("l_quantity"), 4).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        round(avg("l_discount"), 6).as("avg_disc"),
        round(avg("l_tax"), 6).as("avg_tax"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("avg_disc"), col("avg_tax")),
        "metric", "value")
      .orderBy("l_returnflag", "metric")

  /** Generalized means per group: quantity-weighted average price,
    * geometric mean (`exp∘avg∘ln` — the only distribution-safe way to
    * average ratios), and harmonic mean (rate averaging). All three are
    * single-pass commutative aggregates — partial→final combine, one
    * shuffle of constant-width state per group. */
  def generalizedMeans(lineitem: DataFrame): DataFrame =
    lineitem.groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("cnt"),
        round(sum(col("l_extendedprice") * col("l_quantity")) / sum("l_quantity"), 4)
          .as("weighted_avg_price"),
        round(exp(avg(log(col("l_extendedprice")))), 4).as("geo_mean_price"),
        round(count(lit(1)) / sum(lit(1.0) / col("l_extendedprice")), 4)
          .as("harm_mean_price"))
      .orderBy("l_returnflag")

  /** Per-group simple OLS (y on x): slope = cov/var, intercept from the
    * means, r² = corr² — all from ONE partial→final aggregation pass
    * per group (the co-moment aggregates combine associatively; no
    * second scan, no collect). The grouped version of the global
    * [[corrAndSlope]]. */
  def groupedOls(df: DataFrame, groupCol: String,
                 x: org.apache.spark.sql.Column,
                 y: org.apache.spark.sql.Column): DataFrame =
    df.select(col(groupCol), x.as("_x"), y.as("_y"))
      .filter(col("_x").isNotNull && col("_y").isNotNull)
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n"),
        round(covar_pop(col("_x"), col("_y")) / var_pop(col("_x")), 6).as("slope"),
        round(avg("_y") - covar_pop(col("_x"), col("_y")) / var_pop(col("_x"))
          * avg("_x"), 6).as("intercept"),
        round(pow(corr(col("_x"), col("_y")), 2), 6).as("r2"))
      .orderBy(groupCol)

  /** Category-balance diagnostics per group — the "is my training mix
    * skewed?" report: Shannon entropy (nats), normalized entropy
    * (÷ ln k, 1.0 = uniform), and the Herfindahl concentration index
    * Σp². Uses the closed forms H = ln N − Σc·ln c / N and
    * HHI = Σc² / N², so the whole thing is TWO hash aggregations
    * ((group,cat) then group — the first bounds the second's input by
    * the category cardinality) with no window, no join, no second scan
    * of the raw data. Single-category groups get norm_entropy = 1.0 by
    * convention (ln k = 0). */
  def distributionBalance(df: DataFrame, groupCol: String,
                          catCol: String): DataFrame =
    df.groupBy(groupCol, catCol)
      .agg(count(lit(1)).as("c"))
      .groupBy(groupCol)
      .agg(sum("c").as("n"), count(lit(1)).as("n_cats"),
        sum(col("c") * log(col("c"))).as("_clnc"),
        sum(col("c") * col("c")).as("_c2"))
      .select(col(groupCol), col("n"), col("n_cats"),
        round(log(col("n")) - col("_clnc") / col("n"), 6).as("entropy"),
        round(when(col("n_cats") === 1, 1.0)
          .otherwise((log(col("n")) - col("_clnc") / col("n"))
            / log(col("n_cats"))), 6).as("norm_entropy"),
        round(col("_c2") / (col("n") * col("n")), 6).as("hhi"))
      .orderBy(groupCol)

  /** Per-group TWO-feature ridge regression (y on x1, x2 with
    * intercept) via the closed-form 2×2 normal-equation solve over
    * centered co-moments: all five sufficient statistics (two
    * variances, three covariances, plus the means) come out of ONE
    * partial→final aggregation pass — the multivariate step up from
    * [[groupedOls]], still with no collect, no iteration, no second
    * scan. `ridge` is added to the covariance-scale diagonal
    * (X'X/n + λI), so a degenerate group (constant feature) yields
    * finite coefficients instead of a 0/0. */
  def groupedRidge2(df: DataFrame, groupCol: String,
                    x1: org.apache.spark.sql.Column,
                    x2: org.apache.spark.sql.Column,
                    y: org.apache.spark.sql.Column): DataFrame = {
    val g = df.select(col(groupCol), x1.as("_x1"), x2.as("_x2"), y.as("_y"))
      .filter(col("_x1").isNotNull && col("_x2").isNotNull && col("_y").isNotNull)
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        (var_pop(col("_x1")) + 1e-6).as("s11"),
        (var_pop(col("_x2")) + 1e-6).as("s22"),
        covar_pop(col("_x1"), col("_x2")).as("s12"),
        covar_pop(col("_x1"), col("_y")).as("c1y"),
        covar_pop(col("_x2"), col("_y")).as("c2y"),
        avg("_x1").as("m1"), avg("_x2").as("m2"), avg("_y").as("my"))
    val det = col("s11") * col("s22") - col("s12") * col("s12")
    val b1 = (col("c1y") * col("s22") - col("s12") * col("c2y")) / det
    val b2 = (col("c2y") * col("s11") - col("s12") * col("c1y")) / det
    g.select(col(groupCol), col("n"),
        round(b1, 4).as("b1"), round(b2, 4).as("b2"),
        round(col("my") - b1 * col("m1") - b2 * col("m2"), 4).as("intercept"))
      .orderBy(groupCol)
  }

  /** Exact MODE per group with a deterministic tie-break (most frequent
    * value; ties resolve to the smallest value): two hash aggregations
    * — (group, value) counts, then `min_by` of the value over
    * `(negated-count, value)` — no window, no sort, reducer state one
    * row per group. The categorical twin of [[medianByGroup]]. Only the
    * COUNT is negated (always numeric), never the value, so the
    * tie-break works for any orderable value type — strings included,
    * the most common categorical case. */
  def modeByGroup(df: DataFrame, groupCol: String, valCol: String): DataFrame =
    df.filter(col(valCol).isNotNull)
      .groupBy(groupCol, valCol)
      .agg(count(lit(1)).as("c"))
      .groupBy(groupCol)
      .agg(min_by(col(valCol), struct(negate(col("c")), col(valCol))).as("mode"),
        max(col("c")).as("mode_count"),
        count(lit(1)).as("n_distinct"))
      .orderBy(groupCol)

  /** Pareto / cumulative-share report: how concentrated is the value
    * mass over keys ("what share of revenue do the top keys hold")?
    * Per-key totals, ranked desc, cumulative share over the PEERS-SAFE
    * total order (value desc, key asc), bucketed into deciles of rank —
    * output is 10 rows per group tier, the 80/20 curve.
    *
    * Scale shape: the key-totals table is bounded by key CARDINALITY,
    * which for customer/URL/domain keys is billions at 100 TB — a
    * plain `Window.orderBy` over it would serialize the whole table
    * through one task. Instead the cumulative sum AND the rank come
    * from ONE two-pass range-partitioned prefix sum
    * ([[graft.pipeline.Packing.withGlobalCumsumsBefore]] — the only
    * single-task window runs over ~shuffle.partitions bucket-total
    * metadata rows), and the grand total / key count are a scalar
    * aggregate broadcast back. No data-sized single-partition window
    * anywhere in the plan. */
  def paretoShare(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    val totals = df.groupBy(keyCol).agg(sum(valCol).as("v"))
      // (v desc, key asc) re-expressed as an ascending numeric order
      // key for the prefix sum's range bucketing
      .withColumn("_negv", negate(col("v")).cast("double"))
    val whole = totals.agg(sum("v").as("tot"),
      count(lit(1)).as("n"))
    graft.pipeline.Packing
      .withGlobalCumsumsBefore(totals,
        Seq(col("v") -> "_cum_before", lit(1L) -> "_rk_before"),
        "_negv", Some(keyCol))
      .crossJoin(broadcast(whole))
      .withColumn("cum", col("_cum_before") + col("v"))
      .withColumn("rk", col("_rk_before") + lit(1L))
      .withColumn("decile", ceil(col("rk") * 10.0 / col("n")).cast("int"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_keys"),
        round(max(col("cum") / col("tot")), 6).as("cum_share"))
      .orderBy("decile")
  }

  /** Exact WEIGHTED median per group (the quota-sampling / budget-
    * allocation statistic plain `percentile` can't give): cumulative
    * weight over the value-ordered group with the default RANGE frame —
    * peers (equal values) accumulate as one block, so every row's
    * cumulative weight is deterministic regardless of physical tie
    * order — then the smallest value whose cumulative weight reaches
    * half the total. One window + one aggregation; the window sort is
    * per-group, the same cost class as any quantile. */
  def weightedMedian(df: DataFrame, groupCol: String, valCol: String,
                     wCol: String): DataFrame = {
    val byVal = Window.partitionBy(groupCol).orderBy(valCol)
    val whole = Window.partitionBy(groupCol)
    df.select(col(groupCol), col(valCol), col(wCol))
      .filter(col(valCol).isNotNull && col(wCol).isNotNull)
      .withColumn("_cw", sum(wCol).over(byVal))
      .withColumn("_tw", sum(wCol).over(whole))
      .filter(col("_cw") >= col("_tw") * 0.5)
      .groupBy(groupCol)
      .agg(min(valCol).as("weighted_median"),
        round(max("_tw"), 4).as("total_weight"))
      .orderBy(groupCol)
  }

  /** Exact weighted QUANTILES per group — the [[weightedMedian]] trick
    * generalized: ONE peers-inclusive cumulative-weight window, then
    * every requested quantile falls out of the same aggregation as a
    * conditional `min` (smallest value whose cumulative weight reaches
    * q·total). Adding cut points costs one aggregate expression each,
    * never another pass. */
  def weightedQuantiles(df: DataFrame, groupCol: String, valCol: String,
                        wCol: String,
                        qs: Seq[Double] = Seq(0.25, 0.5, 0.9)): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0,1], got $qs")
    val byVal = Window.partitionBy(groupCol).orderBy(valCol)
    val whole = Window.partitionBy(groupCol)
    val base = df.select(col(groupCol), col(valCol), col(wCol))
      .filter(col(valCol).isNotNull && col(wCol).isNotNull)
      .withColumn("_cw", sum(wCol).over(byVal))
      .withColumn("_tw", sum(wCol).over(whole))
    // name from the full decimal (wq_25, wq_0_251, …), not a rounded
    // percent — two cut points inside the same percent must not
    // silently collide into one ambiguous output column
    def labelOf(q: Double): String = {
      val pct = q * 100
      if (pct == math.rint(pct)) s"wq_${pct.toLong}"
      else "wq_" + BigDecimal(q).bigDecimal.stripTrailingZeros.toPlainString
        .replace("0.", "0_").replace(".", "_")
    }
    val labels = qs.map(labelOf)
    require(labels.distinct.length == labels.length,
      s"quantile labels collide: $qs -> $labels")
    val aggs = qs.zip(labels).map { case (q, lbl) =>
      min(when(col("_cw") >= col("_tw") * q, col(valCol))).as(lbl)
    }
    base.groupBy(groupCol).agg(aggs.head, aggs.tail: _*).orderBy(groupCol)
  }

  /** Equi-DEPTH histogram per group (equal row mass per bucket — the
    * complement of [[histogram]]'s equal-width bins): `ntile` over a
    * TOTAL order (value + unique key tiebreak, so bucket boundaries are
    * engine-independent), then per-bucket count/min/max. The window
    * sort is the cost; the output is groups × buckets rows. */
  def equiDepthHistogram(lineitem: DataFrame, buckets: Int = 8): DataFrame = {
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    lineitem
      .withColumn("bucket", ntile(buckets).over(w))
      .groupBy("l_returnflag", "bucket")
      .agg(count(lit(1)).as("n"),
        round(min("l_extendedprice"), 4).as("lo"),
        round(max("l_extendedprice"), 4).as("hi"))
      .orderBy("l_returnflag", "bucket")
  }

  /** Top values per group INCLUDING ties: `dense_rank` (ties share a
    * rank, no gaps) — the semantics "top 3 price points" actually
    * means, vs row_number's arbitrary tie-breaking. Values are bucketed
    * first so ties are real; output is (group, rank, value, n_at_value). */
  def topValueBucketsWithTies(orders: DataFrame): DataFrame = {
    val bucketed = orders
      .groupBy(col("o_orderpriority"),
        (floor(col("o_totalprice") / 1000) * 1000).cast("long").as("price_bucket"))
      .agg(count(lit(1)).as("n_orders"))
    val w = Window.partitionBy("o_orderpriority").orderBy(desc("price_bucket"))
    bucketed
      .withColumn("rank", dense_rank().over(w))
      .filter(col("rank") <= 3)
      .select("o_orderpriority", "rank", "price_bucket", "n_orders")
      .orderBy("o_orderpriority", "rank")
  }

  /** Per-group Gini coefficient over per-key value totals — the
    * inequality summary behind [[paretoShare]]'s curve ("how
    * concentrated is spend/traffic/token mass across keys"), the
    * number a mixture designer watches when capping dominant domains.
    * Computed by the rank formula G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over
    * values sorted ascending (i = 1-based rank, unique key tie-break).
    *
    * Scale shape: the window ranks the per-(group, key) TOTALS table —
    * bounded by key cardinality like a12's exact median, partitioned
    * per group; the corpus itself is touched by one hash aggregation.
    * For billion-key groups the two-pass range-partitioned rank
    * (pipeline.Packing) replaces the window, as in w21. */
  def giniByGroup(df: DataFrame, groupCol: String, keyCol: String,
                  valCol: String): DataFrame = {
    val totals = df.groupBy(col(groupCol), col(keyCol))
      .agg(sum(valCol).as("x"))
    val w = Window.partitionBy(groupCol).orderBy(col("x"), col(keyCol))
    totals
      .withColumn("i", row_number().over(w).cast("double"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_keys"),
        round(lit(2.0) * sum(col("i") * col("x")) /
            (count(lit(1)) * sum(col("x"))) -
          (count(lit(1)) + lit(1L)).cast("double") / count(lit(1)),
          6).as("gini"))
      .orderBy(groupCol)
  }

  /** Per-group Spearman rank correlation — Pearson over AVERAGE ranks
    * (the tie-correct definition: min-rank + (ties−1)/2), the robust
    * complement to [[corrSlope]]'s Pearson: monotone-but-nonlinear
    * relationships score 1, and outliers move a rank by at most one
    * position. Both ranking windows PARTITION BY the group (per-group
    * sorts — the exact-median cost class; group-cardinality work, never
    * a global sort), and the correlation itself is one partial→final
    * aggregate. Rank arithmetic is exact over integers, so only the
    * final corr rounding touches floats. */
  def spearmanByGroup(df: DataFrame, groupCol: String, xCol: String,
                      yCol: String): DataFrame = {
    def avgRank(c: String) =
      rank().over(Window.partitionBy(groupCol).orderBy(c))
        .cast("double") +
        (count(lit(1)).over(Window.partitionBy(groupCol, c)) - lit(1L))
          .cast("double") / 2.0
    // explicit Pearson over the ranks (population form ≡ SQL corr, the
    // n/(n−1) factors cancel): Spark's corr aggregate divides
    // unconditionally and under ANSI throws on an all-tied column; the
    // CaseWhen guard evaluates lazily → SQL's NULL semantics
    val (cov, vx, vy) = (covar_pop(col("_rx"), col("_ry")),
      var_pop(col("_rx")), var_pop(col("_ry")))
    df.select(col(groupCol), col(xCol), col(yCol))
      .withColumn("_rx", avgRank(xCol))
      .withColumn("_ry", avgRank(yCol))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        when(vx > 0 && vy > 0, round(cov / sqrt(vx * vy), 6))
          .as("spearman"))
      .orderBy(groupCol)
  }

  /** Per-group skewness and excess kurtosis from RAW power moments —
    * one partial→final aggregation computing E[x..x⁴], then central-
    * moment algebra on the group-cardinality result. Built-in
    * `skewness`/`kurtosis` are avoided deliberately: engines disagree
    * on sample-vs-population corrections (Spark is population-g₁,
    * DuckDB sample-adjusted), while explicit raw-moment algebra is the
    * SAME arithmetic everywhere, so the oracle pins the definition and
    * not a library choice. Population forms:
    * m₂ = E[x²]−μ², m₃ = E[x³]−3μE[x²]+2μ³,
    * m₄ = E[x⁴]−4μE[x³]+6μ²E[x²]−3μ⁴;
    * skew = m₃/m₂^1.5, excess kurtosis = m₄/m₂²−3. */
  def higherMoments(df: DataFrame, groupCol: String,
                    valCol: String): DataFrame = {
    val x = col(valCol).cast("double")
    val raw = df.groupBy(groupCol).agg(
      count(lit(1)).as("n"),
      avg(x).as("m"), avg(x * x).as("e2"),
      avg(x * x * x).as("e3"), avg(x * x * x * x).as("e4"))
    val m2 = col("e2") - col("m") * col("m")
    val m3 = col("e3") - lit(3.0) * col("m") * col("e2") +
      lit(2.0) * col("m") * col("m") * col("m")
    val m4 = col("e4") - lit(4.0) * col("m") * col("e3") +
      lit(6.0) * col("m") * col("m") * col("e2") -
      lit(3.0) * col("m") * col("m") * col("m") * col("m")
    raw.select(col(groupCol), col("n"),
        round(col("m"), 6).as("mean"),
        round(m2, 6).as("m2"),
        round(m3 / pow(m2, 1.5), 6).as("skewness"),
        round(m4 / (m2 * m2) - lit(3.0), 6).as("kurtosis_excess"))
      .orderBy(groupCol)
  }
}
