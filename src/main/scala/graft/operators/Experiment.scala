package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Online-experiment (A/B) analytics — the read-side a training/product
  * pipeline runs over its event log to decide whether a treatment moved
  * a metric. Complements [[Drift.welchTTest]] (the per-group two-sample
  * test) with the surrounding experimentation toolkit:
  *
  *   - [[cuped]]: variance-reduced lift via the pre-period covariate
  *     (Deng, Xu, Kohavi, Walker, WSDM 2013) — the industry-standard
  *     sensitivity boost for metric deltas.
  *   - [[srmCheck]]: sample-ratio-mismatch chi-square over randomization
  *     units — the health check every experiment readout gates on.
  *   - [[diffInDiff]]: the 2×2 pre/post × treat/control difference-in-
  *     differences estimator for non-randomized rollouts.
  *   - [[cemAtt]]: coarsened-exact-matching ATT (Iacus, King, Porro
  *     2012) — strata-matched treated-vs-control effect when assignment
  *     is observational.
  *   - [[mde]]: minimum detectable effect at 80% power / 5% two-sided
  *     alpha from per-arm counts and the pooled variance — the "is this
  *     experiment even big enough" planning number.
  *
  * Reference analogue: none — the reference's notebooks stop at
  * descriptive monthly aggregates (`notebooks/analytics.ipynb`); this is
  * beyond-reference scope from the training-data-pipeline charter.
  *
  * Scale shape, shared by all five: one partial→final hash aggregate
  * keyed by the randomization unit (or the stratum), then scalar math on
  * aggregate-sized frames. No windows over raw rows, no driver loops;
  * every crossJoin below is a broadcast of a one-row scalar frame. All
  * outputs are pure functions of the input rows (no RNG), so a SQL
  * oracle pins them after the documented `round(·)`.
  */
object Experiment {

  /** The 5% two-sided normal quantile, and the sum z(0.975) + z(0.80)
    * (1.959964 + 0.841621) that sets [[mde]] at 5% alpha / 80% power. */
  private val Z975 = 1.959964
  private val ZSum = 2.801585

  /** CUPED-adjusted per-arm means. Per unit (`unitCol`): pre- and
    * post-period metric sums (`valueCol` where `preCol`/its negation),
    * absent periods as 0 — ONE conditional aggregate, no self-join.
    * Then `theta = covar_pop(pre, post) / var_pop(pre)` (the OLS slope
    * that minimizes adjusted variance) from a scalar aggregate, and
    * `adj = post − theta · (pre − mean(pre))` per unit. Output per arm
    * (`armCol`, evaluated on the unit key): unit count, raw post mean,
    * adjusted mean, and the achieved variance ratio
    * `var_pop(adj) / var_pop(post)` (≤ 1 + ulps by construction).
    *
    * Degenerate guard: a constant pre-period (var_pop = 0) yields
    * theta = 0 — adjustment is a no-op, ratio 1 — matching the oracle's
    * CASE guard rather than dividing to NaN/Inf on one side only.
    */
  def cuped(df: DataFrame, unitCol: String, valueCol: String,
            preCol: Column, armCol: Column): DataFrame = {
    val v = col(valueCol)
    val units = df.filter(v.isNotNull)
      .groupBy(col(unitCol))
      .agg(coalesce(sum(when(preCol, v)), lit(0.0)).as("pre"),
        coalesce(sum(when(!preCol, v)), lit(0.0)).as("post"))
      .withColumn("arm", armCol)
    val theta = units.agg(
      avg("pre").as("mean_pre"),
      when(var_pop(col("pre")) > 0,
        covar_pop(col("pre"), col("post")) / var_pop(col("pre")))
        .otherwise(lit(0.0)).as("theta"))
    units.crossJoin(broadcast(theta))
      .withColumn("adj",
        col("post") - col("theta") * (col("pre") - col("mean_pre")))
      .groupBy("arm")
      .agg(count(lit(1)).as("n_units"),
        round(avg("post"), 6).as("mean_post"),
        round(avg("adj"), 6).as("mean_adj"),
        round(when(var_pop(col("post")) > 0,
            var_pop(col("adj")) / var_pop(col("post")))
          .otherwise(lit(1.0)), 6).as("var_ratio"))
      .orderBy("arm")
  }

  /** Sample-ratio-mismatch check: chi-square goodness-of-fit of the
    * per-arm DISTINCT-unit counts against an equal split. One
    * distinct-unit aggregate (two-level: exact distinct by (arm, unit)
    * then a count — never count(distinct) over raw events at scale),
    * then scalar math. Output one row: total units, arm count, the
    * chi-square statistic, and a mismatch flag against `critical`
    * (default 3.841 = 95th percentile at df=1; pass the df-appropriate
    * quantile for more arms — the CDF itself is a numeric-library
    * concern, not a data-movement one).
    */
  def srmCheck(df: DataFrame, unitCol: String, armCol: Column,
               critical: Double = 3.841): DataFrame = {
    val byArm = df.select(armCol.as("arm"), col(unitCol).as("u"))
      .distinct()
      .groupBy("arm").agg(count(lit(1)).as("n"))
    val tot = byArm.agg(sum("n").as("total"),
      count(lit(1)).as("n_arms"))
    byArm.crossJoin(broadcast(tot))
      .withColumn("e", col("total").cast("double") / col("n_arms"))
      .groupBy()
      .agg(max("total").as("n_units"), max("n_arms").as("n_arms"),
        round(sum(pow(col("n") - col("e"), 2) / col("e")), 6).as("chi2"))
      .withColumn("srm_detected", col("chi2") > critical)
  }

  /** 2×2 difference-in-differences: the four cell means
    * (treat/control × pre/post) from ONE conditional aggregate over the
    * event rows, and `did = (m_t_post − m_t_pre) − (m_c_post − m_c_pre)`.
    * Row-level means (not per-unit) — the estimator on the observation
    * panel; feed a per-unit pre-aggregate for the unit-level variant.
    */
  def diffInDiff(df: DataFrame, valueCol: String,
                 treatCol: Column, postCol: Column): DataFrame = {
    val v = col(valueCol)
    val cells = df.filter(v.isNotNull).agg(
      count(when(treatCol, 1)).as("n_treat"),
      count(when(!treatCol, 1)).as("n_control"),
      avg(when(treatCol && !postCol, v)).as("m_t_pre"),
      avg(when(treatCol && postCol, v)).as("m_t_post"),
      avg(when(!treatCol && !postCol, v)).as("m_c_pre"),
      avg(when(!treatCol && postCol, v)).as("m_c_post"))
    cells.select(col("n_treat"), col("n_control"),
      round(col("m_t_pre"), 6).as("m_t_pre"),
      round(col("m_t_post"), 6).as("m_t_post"),
      round(col("m_c_pre"), 6).as("m_c_pre"),
      round(col("m_c_post"), 6).as("m_c_post"),
      round((col("m_t_post") - col("m_t_pre"))
        - (col("m_c_post") - col("m_c_pre")), 6).as("did"))
  }

  /** Coarsened-exact-matching ATT: group rows by the coarsened stratum
    * key (`strataCols` — pass already-binned columns), keep strata that
    * contain BOTH treated and control rows, and weight each matched
    * stratum's treated-minus-control mean gap by its treated count:
    * `att = Σ n_t · (m_t − m_c) / Σ n_t` over matched strata. One hash
    * aggregate keyed by the stratum (conditional aggs split the arms —
    * no join), then a scalar roll-up over the strata frame. Output one
    * row: total strata, matched strata, treated rows matched (the
    * common-support census), and the ATT.
    */
  def cemAtt(df: DataFrame, valueCol: String, treatCol: Column,
             strataCols: Seq[Column]): DataFrame = {
    val v = col(valueCol)
    val strata = df.filter(v.isNotNull)
      .groupBy(strataCols: _*)
      .agg(count(when(treatCol, 1)).as("n_t"),
        count(when(!treatCol, 1)).as("n_c"),
        avg(when(treatCol, v)).as("m_t"),
        avg(when(!treatCol, v)).as("m_c"))
    val matched = col("n_t") > 0 && col("n_c") > 0
    strata.groupBy()
      .agg(count(lit(1)).as("n_strata"),
        count(when(matched, 1)).as("n_matched"),
        coalesce(sum(when(matched, col("n_t"))), lit(0L))
          .as("treated_matched"),
        round(sum(when(matched, col("n_t") * (col("m_t") - col("m_c"))))
          / sum(when(matched, col("n_t"))), 6).as("att"))
  }

  /** Two-proportion z-test per group: conversion-rate comparison
    * between arms (the binary-metric sibling of [[Drift.welchTTest]]).
    * One conditional aggregate yields per-arm trials/successes; the
    * pooled-variance z statistic
    * `z = (p_a − p_b) / sqrt(p̂(1−p̂)(1/n_a + 1/n_b))` is scalar math on
    * the groups-sized frame, significant past `Z975`, the 5% two-sided
    * normal quantile. Degenerate guard: an all-success or all-failure
    * pool (p̂(1−p̂) = 0) yields z = 0 — no division blow-up on either
    * engine.
    */
  def proportionTest(df: DataFrame, groupCol: String, successCol: Column,
                     armCol: Column): DataFrame = {
    val g = df.groupBy(groupCol)
      .agg(count(when(armCol, 1)).as("n_a"),
        count(when(!armCol, 1)).as("n_b"),
        count(when(armCol && successCol, 1)).as("x_a"),
        count(when(!armCol && successCol, 1)).as("x_b"))
      // a one-armed group has no test — NULL row, not a /0 throw (ANSI
      // raises DIVIDE_BY_ZERO even for doubles; the oracle CASEs)
      .filter(col("n_a") > 0 && col("n_b") > 0)
    val pa = col("x_a").cast("double") / col("n_a")
    val pb = col("x_b").cast("double") / col("n_b")
    val pooled =
      (col("x_a") + col("x_b")).cast("double") / (col("n_a") + col("n_b"))
    val se = sqrt(pooled * (lit(1.0) - pooled)
      * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    val z = when(se > 0, (pa - pb) / se).otherwise(lit(0.0))
    g.select(col(groupCol), col("n_a"), col("n_b"),
        round(pa, 6).as("p_a"), round(pb, 6).as("p_b"),
        round(z, 6).as("z_stat"),
        (abs(z) > Z975).as("significant"))
      .orderBy(groupCol)
  }

  /** Mantel–Haenszel pooled odds ratio across strata (the classic
    * confounder-adjusted 2×2 pool): per stratum the four cell counts
    * (treat/control × success/failure) from one conditional aggregate,
    * then `OR_MH = Σ aᵢdᵢ/nᵢ / Σ bᵢcᵢ/nᵢ` as a scalar roll-up over the
    * strata-sized frame. Strata where either sum term is undefined
    * (zero margin) still contribute their well-defined products —
    * the standard estimator's behavior. Output one row: stratum count,
    * pooled cell totals, OR and its log.
    */
  def mantelHaenszel(df: DataFrame, treatCol: Column, successCol: Column,
                     strataCols: Seq[Column]): DataFrame = {
    val strata = df.groupBy(strataCols: _*)
      .agg(count(when(treatCol && successCol, 1)).as("a"),
        count(when(treatCol && !successCol, 1)).as("b"),
        count(when(!treatCol && successCol, 1)).as("c"),
        count(when(!treatCol && !successCol, 1)).as("d"))
      .withColumn("n",
        (col("a") + col("b") + col("c") + col("d")).cast("double"))
    // cast before multiplying: aᵢdᵢ / bᵢcᵢ overflow long at 100 TB
    // stratum sizes (ANSI throws); the oracle's products are doubles too
    val ad = col("a").cast("double") * col("d") / col("n")
    val bc = col("b").cast("double") * col("c") / col("n")
    // degenerate-strata guard, same CASE convention as proportionTest /
    // ratioDeltaMethod: if no stratum has both b>0 and c>0 the
    // denominator sums to zero (e.g. treatment never fails anywhere) —
    // OR is undefined, so report NULL rather than Inf; the log
    // additionally needs a positive numerator (a zero ad-sum would be
    // ln(0) — null in Spark, -inf in other engines)
    strata.groupBy()
      .agg(count(lit(1)).as("n_strata"),
        sum("a").as("tot_treat_succ"),
        sum("c").as("tot_ctrl_succ"),
        round(when(sum(bc) > 0, sum(ad) / sum(bc)), 6).as("or_mh"),
        round(when(sum(bc) > 0 && sum(ad) > 0, log(sum(ad) / sum(bc))), 6)
          .as("log_or_mh"))
  }

  /** Uplift by score bucket + Qini-style cumulative curve: rows carry a
    * targeting score in [0,1) (`probCol`), a treatment flag, and a
    * binary response; buckets are fixed-width on the score
    * (`floor(p·nBuckets)`, top edge clipped) so bucketing is a
    * row-local pure function — no global quantile pass, no ntile
    * window. Per bucket (descending score = targeting order): arm
    * sizes, response rates, their gap (`uplift`), and the running Qini
    * numerator `Σ r_t − Σ r_c · (N_t/N_c)` over buckets targeted so
    * far — the curve whose area against the random-targeting diagonal
    * is the Qini coefficient. The cumulative window runs over the
    * buckets-sized frame only.
    */
  def upliftBuckets(df: DataFrame, probCol: String, treatCol: Column,
                    responseCol: Column, nBuckets: Int = 10): DataFrame = {
    val p = col(probCol).cast("double")
    val buckets = df.filter(p.isNotNull)
      .withColumn("bucket",
        least(floor(p * nBuckets), lit(nBuckets - 1L)).cast("long"))
      .groupBy("bucket")
      .agg(count(when(treatCol, 1)).as("n_t"),
        count(when(!treatCol, 1)).as("n_c"),
        count(when(treatCol && responseCol, 1)).as("r_t"),
        count(when(!treatCol && responseCol, 1)).as("r_c"))
    val desc = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    buckets
      .withColumn("cum_rt", sum("r_t").over(desc))
      .withColumn("cum_rc", sum("r_c").over(desc))
      .withColumn("cum_nt", sum("n_t").over(desc))
      .withColumn("cum_nc", sum("n_c").over(desc))
      .select(col("bucket"), col("n_t"), col("n_c"),
        // one-armed buckets (possible at tiny unit counts) yield NULL,
        // not a division error — ANSI throws on /0, the oracle CASEs
        round(when(col("n_t") > 0 && col("n_c") > 0,
          col("r_t").cast("double") / col("n_t")
            - col("r_c").cast("double") / col("n_c")), 6).as("uplift"),
        round(when(col("cum_nc") > 0,
          col("cum_rt") - col("cum_rc").cast("double")
            * col("cum_nt") / col("cum_nc")), 6).as("qini_cum"))
      .orderBy(col("bucket").desc)
  }

  /** Delta-method CI for a RATIO metric (revenue per event, CTR, …)
    * whose numerator and denominator both vary per randomization unit —
    * the estimator where naive row-level variance is simply wrong
    * (rows within a unit are correlated). Per unit: x = Σ `numCol`,
    * y = Σ `denCol`; the ratio `R = Σx/Σy = x̄/ȳ` gets
    * `Var(R) ≈ (s_xx − 2R·s_xy + R²·s_yy) / (n·ȳ²)` from the unit-level
    * sample (co)variances (Deng et al., KDD 2018 practice). One
    * unit-keyed hash aggregate, one scalar aggregate. Output one row:
    * n_units, ratio, se, and the ±`Z975` (95%) CI.
    */
  def ratioDeltaMethod(df: DataFrame, unitCol: String, numCol: Column,
                       denCol: Column): DataFrame = {
    val units = df.groupBy(col(unitCol))
      .agg(coalesce(sum(numCol), lit(0.0)).as("x"),
        coalesce(sum(denCol), lit(0.0)).as("y"))
    val g = units.agg(count(lit(1)).as("n"),
      avg("x").as("mx"), avg("y").as("my"),
      var_samp(col("x")).as("sxx"), var_samp(col("y")).as("syy"),
      covar_samp(col("x"), col("y")).as("sxy"))
    // a zero mean denominator means the ratio is undefined — NULL out
    // rather than divide by zero (ANSI throws even for doubles)
    val r = when(col("my") =!= 0, col("mx") / col("my"))
    val se = when(col("my") =!= 0,
      sqrt((col("sxx") - lit(2.0) * r * col("sxy")
        + r * r * col("syy")) / (col("n") * col("my") * col("my"))))
    g.select(col("n").as("n_units"), round(r, 6).as("ratio"),
      round(se, 6).as("se"),
      round(r - lit(Z975) * se, 6).as("ci_lo"),
      round(r + lit(Z975) * se, 6).as("ci_hi"))
  }

  /** Post-stratified mean: re-weight a (possibly biased) sample's
    * per-stratum means by the FULL population's stratum shares — the
    * cheap bias correction when the sampling frame skewed the strata
    * mix. Strata absent from the sample drop out and the estimate
    * renormalizes over the covered share (reported — a low
    * covered_share means the correction is extrapolating). Two hash
    * aggregates on the stratum key (population shares need no sample
    * scan and vice versa), scalar math after.
    */
  def postStratifiedMean(df: DataFrame, strataCol: String, valueCol: String,
                         samplePred: Column): DataFrame = {
    val v = col(valueCol)
    val strata = df.groupBy(strataCol)
      .agg(count(lit(1)).as("n_pop"),
        count(when(samplePred && v.isNotNull, 1)).as("n_samp"),
        avg(when(samplePred, v)).as("m_samp"))
    strata.agg(
        sum("n_samp").as("n_sample"),
        round(sum(col("m_samp") * col("n_samp")) / sum("n_samp"), 6)
          .as("naive_mean"),
        round(sum(when(col("n_samp") > 0, col("n_pop") * col("m_samp")))
          / sum(when(col("n_samp") > 0, col("n_pop"))), 6)
          .as("poststrat_mean"),
        round(sum(when(col("n_samp") > 0, col("n_pop"))).cast("double")
          / sum("n_pop"), 6).as("covered_share"))
  }

  /** Minimum detectable effect per group at two-sided alpha 5% and power
    * 80% (`ZSum`): from
    * one conditional aggregate per group, the per-arm counts, the
    * pooled (both-arm) sample variance, and
    * `mde_abs = ZSum · sqrt(v/n_a + v/n_b)`; `mde_rel` divides by the
    * overall mean. The planning readout: "smaller lifts than this are
    * invisible at this traffic".
    */
  def mde(df: DataFrame, groupCol: String, valueCol: String,
          armCol: Column): DataFrame = {
    val v = col(valueCol)
    df.filter(v.isNotNull)
      .groupBy(groupCol)
      .agg(count(when(armCol, 1)).as("n_a"),
        count(when(!armCol, 1)).as("n_b"),
        var_samp(v).as("v_pooled"),
        avg(v).as("m"))
      // one-armed groups have no per-arm n to plan with — drop rather
      // than divide by zero (ANSI throws on double /0 too)
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .select(col(groupCol), col("n_a"), col("n_b"),
        round(sqrt(col("v_pooled")), 6).as("sd_pooled"),
        round(lit(ZSum) * sqrt(col("v_pooled") / col("n_a")
          + col("v_pooled") / col("n_b")), 6).as("mde_abs"),
        round(lit(ZSum) * sqrt(col("v_pooled") / col("n_a")
          + col("v_pooled") / col("n_b")) / col("m"), 6).as("mde_rel"))
      .orderBy(groupCol)
  }
}
