package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Forecast-grade time-series summaries over grouped ordered series —
  * the evaluation loop a data pipeline runs over millions of per-key
  * metrics (ingest volume per source, token yield per domain) to flag
  * drift and project capacity. Everything here is per-key independent
  * (embarrassingly parallel across keys) and bounded per key by the
  * CALENDAR, not the row count: a key's daily series over a decade is
  * ~3.7k points, so collecting ONE series into a task is O(days), the
  * same bound the chunked sessionizer documents — while the corpus
  * underneath may be 100 TB, the aggregated series tier it feeds is
  * keys × days.
  */
object Forecast {

  /** Holt's linear-trend exponential smoothing (Holt 1957; the
    * workhorse double-smoother behind every capacity dashboard), run as
    * a DECLARATIVE fold: the series is sort_array-collected per key and
    * folded with a higher-order `aggregate` over a (level, trend, sse)
    * struct accumulator — fixed evaluation order, fully codegen'd, no
    * closures, so the float trajectory is exactly reproducible by any
    * IEEE-754 engine replaying the same recurrence.
    *
    * Recurrence (init l₀ = y₁, b₀ = 0; for t ≥ 2):
    *   ŷ_t = l + b  (one-step forecast, error accumulated into sse)
    *   l_t = α·y_t + (1−α)·(l + b)
    *   b_t = β·(l_t − l) + (1−β)·b
    *
    * Output one row per key: n_obs, final level/trend, one-step-ahead
    * SSE, and the h-step forecasts level + h·trend for h = 1..3. */
  def holt(series: DataFrame, keyCol: String, ordCol: String,
           valCol: String, alpha: Double = 0.3,
           beta: Double = 0.1): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    require(beta > 0 && beta < 1, s"beta must be in (0,1), got $beta")
    val folded = series
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(
        col(ordCol).as("o"), col(valCol).cast("double").as("y")))).as("_s"))
      .withColumn("_ys", expr("transform(_s, p -> p.y)"))
      .withColumn("_fit", expr(
        s"""aggregate(
              slice(_ys, 2, greatest(size(_ys) - 1, 0)),
              named_struct('l', _ys[0], 'b', 0D, 'sse', 0D),
              (acc, y) -> named_struct(
                'l', ${alpha}D * y + ${1 - alpha}D * (acc.l + acc.b),
                'b', ${beta}D * ((${alpha}D * y
                        + ${1 - alpha}D * (acc.l + acc.b)) - acc.l)
                      + ${1 - beta}D * acc.b,
                'sse', acc.sse + (y - (acc.l + acc.b))
                                 * (y - (acc.l + acc.b))))"""))
    folded.select(col(keyCol),
      size(col("_ys")).cast("long").as("n_obs"),
      round(col("_fit.l"), 6).as("level"),
      round(col("_fit.b"), 6).as("trend"),
      round(col("_fit.sse"), 6).as("sse"),
      round(col("_fit.l") + col("_fit.b"), 6).as("fcst_1"),
      round(col("_fit.l") + lit(2.0) * col("_fit.b"), 6).as("fcst_2"),
      round(col("_fit.l") + lit(3.0) * col("_fit.b"), 6).as("fcst_3"))
      .orderBy(keyCol)
  }

  /** Classical additive seasonal decomposition (the moving-average
    * method of Macaulay 1931, the default of every stats package's
    * `decompose`): trend = centered length-`period` moving average
    * (only where the window is FULL — edges yield no trend, exactly
    * like R), detrended = y − trend, and the seasonal index per phase
    * is the mean detrended value re-centered to sum to zero over the
    * period. Phase is computed engine-neutrally as epoch-position mod
    * period over `ordCol` row order. Window + two aggregations; the
    * per-key series tier only. Output: one row per (key, phase) with
    * n_obs (full-window points at that phase) and seasonal_index. */
  def seasonalDecompose(series: DataFrame, keyCol: String, ordCol: String,
                        valCol: String, period: Int = 7): DataFrame = {
    require(period >= 2 && period % 2 == 1,
      s"period must be odd and >= 3, got $period (even periods need the " +
        "2×MA variant)")
    val half = period / 2
    val w = Window.partitionBy(keyCol).orderBy(ordCol)
    val frame = w.rowsBetween(-half, half)
    val detr = series
      .select(col(keyCol), col(ordCol), col(valCol).cast("double").as("_y"))
      .withColumn("_phase", pmod(row_number().over(w) - 1, lit(period)))
      .withColumn("_trend",
        when(count(lit(1)).over(frame) === period, avg(col("_y")).over(frame)))
      .filter(col("_trend").isNotNull)
      .withColumn("_d", col("_y") - col("_trend"))
    val raw = detr.groupBy(col(keyCol), col("_phase"))
      .agg(count(lit(1)).as("n_obs"), avg(col("_d")).as("_s_raw"))
    val centers = raw.groupBy(col(keyCol)).agg(avg(col("_s_raw")).as("_c"))
    raw.join(centers, Seq(keyCol))
      .select(col(keyCol), col("_phase").as("phase"), col("n_obs"),
        round(col("_s_raw") - col("_c"), 6).as("seasonal_index"))
      .orderBy(keyCol, "phase")
  }

  /** Seasonal-naive forecast accuracy per key: MAE of the
    * season-lagged forecast ŷ_t = y_{t−m}, the naive-1 in-sample MAE
    * (the denominator convention of Hyndman & Koehler 2006's MASE),
    * and their ratio. A MASE < 1 means "the seasonal pattern beats
    * persistence" — the one-number seasonality screen. Two window
    * lags + one aggregation; positions are row-number order over
    * `ordCol`, so gaps in the calendar count as adjacent. */
  def seasonalNaiveMase(series: DataFrame, keyCol: String, ordCol: String,
                        valCol: String, season: Int = 7): DataFrame = {
    require(season >= 2, s"season must be >= 2, got $season")
    val w = Window.partitionBy(keyCol).orderBy(ordCol)
    series
      .select(col(keyCol), col(ordCol), col(valCol).cast("double").as("_y"))
      .withColumn("_lag_m", lag(col("_y"), season).over(w))
      .withColumn("_lag_1", lag(col("_y"), 1).over(w))
      .groupBy(keyCol)
      .agg(count(col("_lag_m")).as("n_scored"),
        avg(abs(col("_y") - col("_lag_m"))).as("_mae_m"),
        avg(abs(col("_y") - col("_lag_1"))).as("_mae_1"))
      .select(col(keyCol), col("n_scored"),
        round(col("_mae_m"), 6).as("mae_seasonal"),
        round(col("_mae_1"), 6).as("mae_naive1"),
        round(col("_mae_m") / col("_mae_1"), 6).as("mase"))
      .orderBy(keyCol)
  }

  /** Sample cross-correlation function (Box–Jenkins CCF) between two
    * event types' daily volumes at lags −maxLag..+maxLag — the lead/lag
    * diagnostic behind "do clicks predict purchases three days out".
    * Positive lag = y lags x by `lag` days.
    *
    * Scale shape: the corpus collapses to two day-level count series
    * first; the lag fan-out (2·maxLag+1 copies) and the alignment join
    * run on that calendar-bounded tier only. One Pearson `corr`
    * aggregate per lag, all in a single grouped aggregation. */
  def crossCorrelation(events: DataFrame, tsCol: String, typeCol: String,
                       typeX: String, typeY: String,
                       maxLag: Int = 3): DataFrame = {
    require(maxLag >= 0, s"maxLag must be non-negative, got $maxLag")
    def daily(t: String, out: String) = events
      .filter(col(typeCol) === t)
      .groupBy(to_date(col(tsCol)).as("_day"))
      .agg(count(lit(1)).as(out))
    val a = daily(typeX, "_x")
    val b = daily(typeY, "_y").withColumnRenamed("_day", "_bday")
    val lags = (-maxLag to maxLag).map(l => lit(l)).toArray
    a.withColumn("lag", explode(array(lags: _*)))
      .join(b, col("_bday") === date_add(col("_day"), col("lag")))
      .groupBy("lag")
      // Not corr(): under ANSI mode Spark's corr THROWS DIVIDE_BY_ZERO
      // for a zero-variance series (and yields NaN for a 1-row lag
      // bucket) where SQL engines yield NULL. covar/stddev are
      // internally guarded, try_divide nulls the 0-variance divisor,
      // nanvl nulls the n=1 bucket — algebraically identical to corr
      // on the non-degenerate path
      .agg(count(lit(1)).as("n_days"),
        round(nanvl(try_divide(covar_samp("_x", "_y"),
            stddev_samp("_x") * stddev_samp("_y")),
          lit(null).cast("double")), 4).as("ccf"))
      .orderBy("lag")
  }

  /** Calendar-aligned period-over-period growth: monthly totals with
    * month-over-month and year-over-year percentage change, joined on
    * COMPUTED prior-period keys (not row lag), so calendar gaps yield
    * NULL growth instead of comparing against the wrong month. The
    * monthly tier is calendar-bounded; both prior-period joins run on
    * it alone. Totals are rounded before the ratios so the growth
    * figures are reproducible across engines. */
  def periodOverPeriod(df: DataFrame, dateCol: String,
                       valCol: String): DataFrame = {
    val monthly = df
      .groupBy(date_format(col(dateCol), "yyyy-MM").as("month"))
      .agg(round(sum(valCol), 4).as("revenue"))
    def shifted(months: Int, out: String) = monthly.select(
      date_format(add_months(to_date(concat(col("month"), lit("-01"))),
        months), "yyyy-MM").as("month"),
      col("revenue").as(out))
    monthly
      .join(shifted(1, "_pm"), Seq("month"), "left")
      .join(shifted(12, "_py"), Seq("month"), "left")
      .select(col("month"), col("revenue"),
        round((col("revenue") - col("_pm")) / col("_pm"), 4).as("mom_pct"),
        round((col("revenue") - col("_py")) / col("_py"), 4).as("yoy_pct"))
      .orderBy("month")
  }
}
