package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift detection between data slices — the monitoring
  * pass a training pipeline runs per ingest batch ("has this source's
  * feature distribution moved?") and a warehouse runs between snapshot
  * loads. Three classic two-sample instruments, each built so the heavy
  * part is a partial→final aggregate and everything after operates on
  * aggregate-sized frames:
  *
  *   - [[ksStatistic]]: exact two-sample Kolmogorov–Smirnov D over the
  *     empirical CDFs — the nonparametric "are these two numeric
  *     samples from the same distribution?" test.
  *   - [[psi]]: population stability index over fixed-width bins — the
  *     scorecard-monitoring standard (PSI < 0.1 stable, > 0.25 shifted).
  *   - [[chiSquareIndependence]]: Pearson chi-square over an r×c
  *     contingency table — "are these two categorical columns
  *     independent?" (e.g. source × language mix drift).
  *
  * Reference analogue: the reference's notebooks eyeball distribution
  * shift with per-month seaborn histograms (`notebooks/analytics.ipynb`
  * passim); these operators are the engine-side quantitative form.
  *
  * All three are exactly reproducible (pure functions of the input
  * rows — no RNG, no sketch), so a SQL oracle pins them bit-for-bit
  * after a documented `round(·)`.
  */
object Drift {

  /** Exact two-sample Kolmogorov–Smirnov statistic
    * `D = max_x |F_A(x) − F_B(x)|` between the `valueCol` samples of
    * `groupA` and `groupB` rows (one output row: n_a, n_b, ks_stat).
    *
    * Scale shape: the data-sized work is one partial→final count keyed
    * by the distinct VALUE (each side's count carried in the same row),
    * after which the frame is distinct-value-sized. The running CDFs
    * need a global prefix sum over the value order — computed with the
    * same two-pass literal-quantile-bucket trick as
    * [[graft.pipeline.Packing.withGlobalCumsumBefore]] (per-bucket
    * totals get their offsets from a metadata-sized window over bucket
    * ids; within-bucket windows run in parallel), never a
    * single-partition window over the data. Both sides' cumsums ride
    * one bucketing and one window pass.
    *
    * The supremum over the step-function difference is attained at a
    * sample point, so maxing |·| over the distinct values is exact —
    * no discretization. Determinism: counts are longs, the CDF ratios
    * are exact integer divisions evaluated identically by any IEEE-754
    * engine; `round(6)` on the output absorbs nothing but display.
    */
  def ksStatistic(df: DataFrame, valueCol: String, groupCol: String,
                  groupA: String, groupB: String): DataFrame = {
    val two = df
      .filter(col(groupCol).isin(groupA, groupB) && col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("v"),
        when(col(groupCol) === groupA, 1L).otherwise(0L).as("ia"),
        when(col(groupCol) === groupB, 1L).otherwise(0L).as("ib"))
    // one data-sized aggregate; everything below is distinct-value-sized
    val byVal = two.groupBy("v")
      .agg(sum("ia").as("ca"), sum("ib").as("cb"))

    val spark = df.sparkSession
    val nParts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val probs = (1 until nParts).map(_.toDouble / nParts).toArray
    val bounds: Array[Double] =
      if (probs.isEmpty) Array.empty
      else byVal.stat.approxQuantile("v", probs, 0.001 / nParts)
    // bucket = count of boundaries strictly below v: pure literal
    // comparisons, so membership cannot drift between the offsets job
    // and the probe side (Packing.scala:43-50 rationale)
    val bucketCol = bounds.foldLeft(lit(0L)) { (acc, b) =>
      acc + when(col("v") > b, 1L).otherwise(0L)
    }
    val parts = byVal.withColumn("_bkt", bucketCol)
    val metaWin = Window.orderBy("_bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parts.groupBy("_bkt")
      .agg(sum("ca").as("_pa"), sum("cb").as("_pb"))
      .select(col("_bkt"),
        coalesce(sum("_pa").over(metaWin), lit(0L)).as("_oa"),
        coalesce(sum("_pb").over(metaWin), lit(0L)).as("_ob"))
    val within = Window.partitionBy("_bkt").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = parts.join(broadcast(offsets), "_bkt")
      .select(
        (sum("ca").over(within) + col("_oa")).as("cum_a"),
        (sum("cb").over(within) + col("_ob")).as("cum_b"))
    val tot = byVal.agg(sum("ca").as("n_a"), sum("cb").as("n_b"))
    cum.crossJoin(broadcast(tot))
      .select(abs(col("cum_a") / col("n_a") - col("cum_b") / col("n_b"))
          .as("d"),
        col("n_a"), col("n_b"))
      .groupBy()
      .agg(max("n_a").as("n_a"), max("n_b").as("n_b"),
        round(max("d"), 6).as("ks_stat"))
      .select(lit(groupA).as("group_a"), lit(groupB).as("group_b"),
        col("n_a"), col("n_b"), col("ks_stat"))
  }

  /** Population stability index of every non-baseline group of
    * `groupCol` against `baseline`, over `bins` fixed-width bins of
    * `valueCol` spanning the GLOBAL [min, max]:
    * `PSI = Σ_bins (p_g − p_b) · ln(p_g / p_b)`.
    *
    * Empty bins are inevitable on real slices, and PSI is undefined at
    * zero mass, so both distributions take the standard Laplace
    * smoothing `p = (n + ½) / (N + bins/2)` — deterministic, and applied
    * identically by the SQL oracle. Bin edges come from one single-row
    * global min/max aggregate broadcast back (crossJoin of one row);
    * binning is then a row-local codegen'd expression, the count is one
    * partial→final agg keyed by (group, bin), and the group×bin grid is
    * completed by exploding a literal `sequence(0, bins−1)` against the
    * (tiny) distinct-group aggregate — so absent bins exist with n=0
    * without any data-sized join.
    */
  def psi(df: DataFrame, valueCol: String, groupCol: String,
          baseline: String, bins: Int = 16): DataFrame = {
    require(bins > 0, s"psi: bins must be positive, got $bins")
    val vals = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), col(valueCol).cast("double").as("v"))
    val mm = vals.agg(min("v").as("mn"), max("v").as("mx"))
    val binned = vals.crossJoin(broadcast(mm))
      .select(col("g"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(
            floor((col("v") - col("mn")) / ((col("mx") - col("mn")) / bins))
              .cast("long"),
            lit(bins - 1L))).as("b"))
    val counts = binned.groupBy("g", "b").agg(count(lit(1)).as("n"))
    // complete the group×bin grid from the aggregate, not the data
    val grid = counts.select("g").distinct()
      .select(col("g"), explode(sequence(lit(0L), lit(bins - 1L))).as("b"))
    val full = grid.join(counts, Seq("g", "b"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val totals = full.groupBy("g").agg(sum("n").as("nt"))
    val withP = full.join(totals, "g")
      .withColumn("p", (col("n") + 0.5) / (col("nt") + bins / 2.0))
    val base = withP.filter(col("g") === baseline)
      .select(col("b"), col("p").as("pb"))
    withP.filter(col("g") =!= baseline)
      .join(broadcast(base), "b")
      .groupBy("g")
      .agg(max("nt").as("n"),
        round(sum((col("p") - col("pb")) * log(col("p") / col("pb"))), 6)
          .as("psi"))
      .select(col("g").as(groupCol), col("n"), col("psi"))
      .orderBy(groupCol)
  }

  /** Pearson chi-square test of independence between two categorical
    * columns: one output row with the table size, degrees of freedom
    * `(r−1)(c−1)`, and the statistic `Σ_cells (o − e)² / e`,
    * `e = rowTotal · colTotal / n`.
    *
    * The statistic sums over ALL r×c cells including zero-observed ones
    * — the contingency grid is completed by crossJoining the two
    * marginal aggregates (each distinct-value-sized; for categorical
    * dimensions that is metadata, not data) and left-joining the
    * observed counts. One data-sized partial→final count; the grand
    * total broadcasts as a one-row crossJoin.
    */
  /** Mutual information between two categorical columns, with the two
    * marginal entropies and the min-normalized coefficient
    * `nmi = MI / min(H(a), H(b))` — the feature-selection /
    * redundancy-detection companion to [[chiSquareIndependence]] (chi²
    * answers "is there dependence?", MI answers "how many nats does one
    * column tell you about the other?").
    *
    * Zero-observed cells contribute `0·ln 0 = 0`, so unlike chi² no
    * grid completion is needed: one data-sized partial→final count on
    * (a, b), marginals as aggregates OF that aggregate, everything
    * joined back at cell-table size. Degenerate single-value columns
    * have `H = 0`; nmi is 0 then (no information to share). */
  def mutualInformation(df: DataFrame, colA: String, colB: String): DataFrame = {
    val obs = df.filter(col(colA).isNotNull && col(colB).isNotNull)
      .select(col(colA).as("a"), col(colB).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("o"))
    val tot = obs.agg(sum("o").as("n"))
    val ra = obs.groupBy("a").agg(sum("o").as("na"))
    val cb = obs.groupBy("b").agg(sum("o").as("nb"))
    val ha = ra.crossJoin(broadcast(tot))
      .agg((-sum((col("na") / col("n")) * log(col("na") / col("n"))))
        .as("h_a"))
    val hb = cb.crossJoin(broadcast(tot))
      .agg((-sum((col("nb") / col("n")) * log(col("nb") / col("n"))))
        .as("h_b"))
    val mi = obs.join(ra, "a").join(cb, "b").crossJoin(broadcast(tot))
      .agg(max("n").as("n"),
        sum((col("o") / col("n"))
          * log((col("o") / col("n"))
            / ((col("na") / col("n")) * (col("nb") / col("n"))))).as("mi"))
    mi.crossJoin(broadcast(ha)).crossJoin(broadcast(hb))
      .select(col("n"), round(col("mi"), 6).as("mi"),
        round(col("h_a"), 6).as("h_a"), round(col("h_b"), 6).as("h_b"),
        round(when(least(col("h_a"), col("h_b")) > 0,
          col("mi") / least(col("h_a"), col("h_b"))).otherwise(0.0), 6)
          .as("nmi"))
  }

  def chiSquareIndependence(df: DataFrame, colA: String, colB: String): DataFrame = {
    val obs = df.filter(col(colA).isNotNull && col(colB).isNotNull)
      .select(col(colA).as("a"), col(colB).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("o"))
    val ra = obs.groupBy("a").agg(sum("o").as("na"))
    val cb = obs.groupBy("b").agg(sum("o").as("nb"))
    val tot = obs.agg(sum("o").as("n"))
    val cells = ra.crossJoin(cb)
      .join(obs, Seq("a", "b"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
      // cast before multiplying: rowTotal·colTotal over 100 TB row counts
      // overflows long; the double product is what the oracle computes too
      .withColumn("e", col("na").cast("double") * col("nb") / col("n"))
    cells.groupBy()
      .agg(max("n").as("n"),
        ((countDistinct("a") - 1) * (countDistinct("b") - 1)).as("dof"),
        round(sum(pow(col("o") - col("e"), 2) / col("e")), 4).as("chi2"))
  }

  /** Welch's two-sample t-test per group (unequal variances — the
    * robust default for A/B cohort comparison): t statistic and
    * Welch–Satterthwaite degrees of freedom from ONE co-moment
    * aggregation pass over both cohorts together (conditional
    * aggregates split the cohorts; no second scan, no join). The
    * decision column thresholds |t| against the normal-approximation
    * critical value 1.96 — exact p-values need the t CDF, a numeric-library
    * concern, not a data-movement one. */
  def welchTTest(df: DataFrame, groupCol: String, valueCol: String,
                 cohortCol: Column): DataFrame = {
    val inA = cohortCol
    val v = col(valueCol)
    val g = df.filter(v.isNotNull)
      .groupBy(groupCol)
      .agg(
        count(when(inA, 1)).as("n_a"),
        count(when(!inA, 1)).as("n_b"),
        avg(when(inA, v)).as("m_a"),
        avg(when(!inA, v)).as("m_b"),
        var_samp(when(inA, v)).as("v_a"),
        var_samp(when(!inA, v)).as("v_b"))
    val sa = col("v_a") / col("n_a")
    val sb = col("v_b") / col("n_b")
    val t = (col("m_a") - col("m_b")) / sqrt(sa + sb)
    val dfw = pow(sa + sb, 2) /
      (pow(sa, 2) / (col("n_a") - 1) + pow(sb, 2) / (col("n_b") - 1))
    g.select(col(groupCol), col("n_a"), col("n_b"),
        round(col("m_a") - col("m_b"), 4).as("mean_diff"),
        round(t, 4).as("t_stat"),
        round(dfw, 2).as("df_welch"),
        (abs(t) > 1.96).as("significant"))
      .orderBy(groupCol)
  }
}
