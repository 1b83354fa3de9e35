package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function operators. The reference has none (SURVEY §2.5) — its
  * top-k uses sort+limit and its z-score uses whole-series mean/std
  * (`part2.ipynb` cell 31:706-718). Here both become proper windows, plus
  * the ranking/lag/rolling/sessionization surface a complete engine needs.
  *
  * Scale notes: all partitioned windows shuffle once on the partition key
  * and stream within partitions (no full materialization). The two
  * global-window queries ([[dailyZscore]], [[rollingDailyAvg]]) first
  * aggregate to one-row-per-day — the windowed input is ~365 rows/year,
  * driver-scale by construction, so the single-partition window is safe
  * at any fact-table size. */
object Windows {

  // unix_millis rejects TIMESTAMP_NTZ (common in parquet written by
  // other engines); with the session pinned to UTC the cast is an exact
  // reinterpretation, so accept both timestamp flavors everywhere.
  private def epochMs(c: org.apache.spark.sql.Column) = unix_millis(c.cast("timestamp"))

  /** W1: top-N per group via row_number (the idiomatic replacement for the
    * reference's per-group sort+head). */
  def topOrdersPerCustomer(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    orders
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .orderBy("o_custkey", "rn")
  }

  /** W2: lag-based per-user deltas (session-step analysis shape). Ordering
    * uses `event_id` (monotone with ts) so results are reproducible across
    * engines regardless of timestamp precision. */
  def userValueDeltas(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    events
      .withColumn("delta", col("value") - lag("value", 1).over(w))
      .groupBy("user_id")
      .agg(round(avg("delta"), 4).as("avg_delta"), count(col("delta")).as("cnt"))
      .orderBy("user_id")
  }

  /** W3: 7-row rolling average over daily totals (trend smoothing). */
  def rollingDailyAvg(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(round(sum("o_totalprice"), 0).as("total"))
    val w = Window.orderBy("day").rowsBetween(-6, 0)
    daily
      .withColumn("avg7", round(avg("total").over(w), 4))
      .orderBy("day")
  }

  /** Event-time RANGE-frame rolling stats: at every event, the count and
    * value sum of the same user's events in the trailing
    * hour — the sliding-lookback feature ("requests in the
    * last hour") that a ROWS frame ([[rollingDailyAvg]]) cannot express
    * when events are irregularly spaced. `rangeBetween` on the epoch
    * keys the frame by VALUE distance, so ties (equal timestamps) are
    * full peers on both engines and the frame is a pure function of the
    * data. Partitioned by user — parallel across the key space, no
    * global window; per-task state is one frame's worth of rows,
    * bounded by the densest single user-hour, not the partition. */
  def trailingWindowStats(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("_ep"))
      .rangeBetween(-3600L * 1000L, 0L)
    events
      .withColumn("_ep", epochMs(col("ts")))
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_trailing"),
        round(sum("value").over(w), 4).as("value_trailing"))
      .orderBy("event_id")
  }

  /** A15: daily counts + global z-score + Low/Normal/High buckets
    * (`part2.ipynb` cell 31:706-718; bins (−∞,−1.5,1.5,∞)). */
  def dailyZscore(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy()
    daily
      .withColumn("z",
        round((col("cnt") - avg("cnt").over(w)) / stddev("cnt").over(w), 4))
      .withColumn("bucket",
        when(col("z") < -1.5, "Low").when(col("z") > 1.5, "High").otherwise("Normal"))
      .orderBy("day")
  }

  /** Quartile assignment + percentile rank per group over a UNIQUE sort
    * key (price, then key as tiebreak — ntile splits ties by window
    * order, so a non-unique ordering would be nondeterministic across
    * engines). Aggregated to per-(group, quartile) cells with exact
    * membership evidence (`key_sum`). */
  def quartileRanks(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    orders
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pr", percent_rank().over(w))
      .groupBy("o_orderpriority", "quartile")
      .agg(count(lit(1)).as("cnt"), sum("o_orderkey").as("key_sum"),
        round(max("pr"), 6).as("max_pr"))
      .orderBy("o_orderpriority", "quartile")
  }

  /** Sessionization via gap detection: a new session starts after a gap
    * > `gapMinutes` — the batch twin of the streaming
    * `mapGroupsWithState` sessionizer in [[graft.streaming.EventStreams]]. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("event_id")
    val flagged = events
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          epochMs(col("ts")) - epochMs(col("prev_ts")) > gapMinutes * 60000L, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum("new_session").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    summarizeSessions(flagged
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("events_in_session")))
  }

  /** Shared per-user session summary for [[sessionize]] and
    * [[sessionizeChunked]] — ONE definition so the output shape (and
    * its rounding, which both the st2 and w11 oracles pin) can never
    * drift between the plain and chunked forms. Input: one row per
    * (user_id, session) with `events_in_session`. */
  private def summarizeSessions(perSession: DataFrame): DataFrame =
    perSession
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        round(avg("events_in_session"), 4).as("avg_session_events"),
        max("events_in_session").as("max_session_events"))
      .orderBy("user_id")

  /** Hot-key-safe sessionization — the chunk-and-merge form of
    * [[sessionize]] for the one serialization a per-key ordered window
    * cannot avoid: a single key with billions of events sorts on one
    * task. Here the key's timeline is split into coarse time chunks
    * (`chunkHours`), each chunk sessionizes INDEPENDENTLY in parallel
    * (the window partitions on (key, chunk)), and only the per-chunk
    * session SUMMARIES — bounded by sessions-per-chunk, not events —
    * meet in the per-key merge pass that stitches sessions across chunk
    * boundaries (two adjacent summaries merge iff start − prev_end ≤
    * gap). Exactly the global result: chunking can only ever SPLIT a
    * true session, never join two (within-chunk boundaries keep their
    * > gap evidence), and the merge rejoins precisely the cross-chunk
    * splits.
    *
    * Ordering contract: TIME-ordered ((ts, event_id) tie-break) — the
    * honest semantic for sessionization, and the one a chunk-parallel
    * form can honor ([[sessionize]]'s event_id ordering cannot survive
    * chunking when ids and time disagree; on time-ordered ids the two
    * agree, which the property spec pins). */
  def sessionizeChunked(events: DataFrame, gapMinutes: Int = 30,
                        chunkHours: Int = 24): DataFrame = {
    require(gapMinutes >= 1, s"gapMinutes must be >= 1, got $gapMinutes")
    require(chunkHours >= 1 && chunkHours.toLong * 60 >= gapMinutes,
      s"chunkHours ($chunkHours) must be >= 1 and cover the gap " +
        s"($gapMinutes min) — tinier chunks would make every session a merge chain")
    val gapMs = gapMinutes * 60000L
    val chunkMs = chunkHours * 3600000L
    val byChunk = Window.partitionBy("user_id", "chunk")
      .orderBy("ts", "event_id")
    val localSessions = events
      .withColumn("chunk", floor(epochMs(col("ts")) / chunkMs))
      .withColumn("prev_ts", lag("ts", 1).over(byChunk))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          epochMs(col("ts")) - epochMs(col("prev_ts")) > gapMs, 1).otherwise(0))
      .withColumn("local_sid",
        sum("new_session").over(byChunk.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "chunk", "local_sid")
      .agg(min("ts").as("s_start"), max("ts").as("s_end"),
        count(lit(1)).as("n_events"))
    // merge pass: per key over session summaries — O(sessions) rows per
    // key (a continuously-active key contributes ~1 per chunk), so the
    // serialized portion no longer scales with event volume
    val byUser = Window.partitionBy("user_id").orderBy("s_start", "s_end")
    val merged = localSessions
      .withColumn("prev_end", lag("s_end", 1).over(byUser))
      .withColumn("new_grp",
        when(col("prev_end").isNull ||
          epochMs(col("s_start")) - epochMs(col("prev_end")) > gapMs, 1).otherwise(0))
      .withColumn("grp",
        sum("new_grp").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "grp")
      .agg(sum("n_events").as("events_in_session"))
    summarizeSessions(merged)
  }

  /** Two-step conversion funnel (click → purchase), cohorted by the hour
    * of the user's first click: per cohort, how many clickers, how many
    * later purchased, and the mean minutes to convert. Two narrow
    * aggregations + one key-partitioned join — each stage shuffles on
    * user_id only, so the shape holds at any event volume. */
  def conversionFunnel(events: DataFrame): DataFrame = {
    val first = events.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min("ts").as("first_from"))
    val converted = events.filter(col("event_type") === "purchase")
      .join(first, "user_id")
      .filter(col("ts") >= col("first_from"))
      .groupBy("user_id").agg(min("ts").as("first_to"))
    first.join(converted, Seq("user_id"), "left")
      .groupBy(hour(col("first_from")).cast("int").as("cohort_hour"))
      .agg(count(lit(1)).as("n_users"),
        count(col("first_to")).as("n_converted"),
        round(avg((epochMs(col("first_to")) - epochMs(col("first_from"))) / 60000.0),
          4).as("avg_minutes_to_convert"))
      .orderBy("cohort_hour")
  }

  /** Cohort retention matrix: users cohorted by first-activity date, and
    * per (cohort, day-offset) the count of distinct users active again
    * that day — the grid every product-analytics report draws. Both the
    * first-seen aggregate and the activity join shuffle on `user_id`
    * (the aggregated side arrives pre-partitioned, so the join adds no
    * third exchange; the two identical scan-side exchanges are eligible
    * for AQE exchange reuse at runtime); the distinct-count aggregate
    * then shuffles (cohort, offset) keys — bounded by days², never by
    * event volume. */
  def retentionCohorts(events: DataFrame, maxOffsetDays: Int = 7): DataFrame = {
    val activity = events.select(col("user_id"),
      to_date(col("ts").cast("timestamp")).as("day"))
    val firstSeen = activity.groupBy("user_id").agg(min("day").as("cohort"))
    activity
      .join(firstSeen, "user_id")
      .withColumn("offset_days", datediff(col("day"), col("cohort")))
      .filter(col("offset_days") <= maxOffsetDays)
      .groupBy("cohort", "offset_days")
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort", "offset_days")
  }

  /** First-order event-transition matrix: for every consecutive pair in
    * a user's stream (ts order, event_id tiebreak — unique, so the
    * sequence is engine-stable), count (from_type → to_type). The Markov
    * view of user behavior every funnel/journey analysis starts from.
    * One shuffle on user_id; the lead() window streams per user; the
    * final aggregate is types² keys — constant-size output at any
    * event volume. */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy("from_type", "to_type")
  }

  /** Calendar gap-fill with forward-fill: per group, aggregate to a
    * daily series, expand to the group's full [min, max] date range
    * (`sequence` + explode — row-local), and carry the last observation
    * forward across missing days. The window runs over PRE-AGGREGATED
    * one-row-per-day frames (same contract as [[dailyZscore]]) — per
    * group it is calendar-bounded, never event-bounded, so the sort is
    * metadata-sized at any fact volume. Gap days keep `avg_value` null,
    * report the carried `filled_value`, and are flagged. */
  def resampleDailyFfill(events: DataFrame, groupCol: String): DataFrame = {
    val daily = events
      .groupBy(col(groupCol), to_date(col("ts").cast("timestamp")).as("day"))
      .agg(round(avg("value"), 4).as("avg_value"))
    val grid = daily.groupBy(groupCol)
      .agg(min("day").as("_d0"), max("day").as("_d1"))
      .select(col(groupCol),
        explode(expr("sequence(_d0, _d1, interval 1 day)")).as("day"))
    val w = Window.partitionBy(groupCol).orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq(groupCol, "day"), "left")
      .withColumn("filled_value", last("avg_value", ignoreNulls = true).over(w))
      .withColumn("is_gap", col("avg_value").isNull)
  }

  /** Exponential moving average per key, bounded-horizon form.
    *
    * The textbook recursion `s_t = α·v_t + (1-α)·s_{t-1}` is a strictly
    * sequential scan per key — the exact shape that stops scaling once
    * one key holds billions of rows (same failure mode [[sessionize]]'s
    * chunked twin exists for). Two observations fix it:
    *
    *  1. The adjusted EWMA is a plain weighted mean,
    *     `Σ β^(t-k)·v_k / Σ β^(t-k)` with β = 1-α — no recursion.
    *  2. Weights decay geometrically, so terms older than
    *     H = log(ε)/log(β) rows contribute below double-precision ε and
    *     can be dropped EXACTLY (for β = ½, H = 64 puts the tail at
    *     2⁻⁶⁴ ≈ 5e-20 relative — invisible to a 4-decimal round).
    *
    * So each output row needs only its trailing `horizon` values: a
    * ROWS frame `collect_list` plus a row-local higher-order fold, with
    * constant (horizon-sized) work and state per row, no per-key
    * sequential dependency, and no `pow` overflow at any sequence
    * length — the form that survives a key with 10⁹ rows. The gate
    * pins this truncated form against the oracle's untruncated
    * closed-form cumsum: agreement at 4 decimals IS the proof the
    * truncation is exact in practice.
    *
    * Weights are powers of β: for β = ½ every `v·β^e` product is an
    * exact exponent shift, so both engines' sums are bit-identical up
    * to the dropped tail. */
  def ewma(events: DataFrame, alpha: Double = 0.5, horizon: Int = 64): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val beta = 1.0 - alpha
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val frame = w.rowsBetween(-(horizon - 1), Window.currentRow)
    events
      .withColumn("rn", row_number().over(w))
      .withColumn("_vals", collect_list(col("value")).over(frame))
      // Horner's rule, oldest-first: acc·β + v accumulates exactly the
      // weighted sum Σ β^(n-1-i)·v_i — one fold, no pow; for β = ½ each
      // multiply is an exact exponent shift, so the result is
      // bit-identical to the oracle's scaled cumsum. Denominator is the
      // geometric series in closed form, (1 - β^n)/α.
      .withColumn("ewma", round(
        expr(s"""aggregate(_vals, 0D, (acc, v) -> acc * ${beta}D + v)
           / ((1D - pow(${beta}D, size(_vals))) / ${alpha}D)"""), 4))
      .select("event_id", "user_id", "rn", "ewma")
      .orderBy("event_id")
  }

  /** Rank-normalization feature scaling per group: `percent_rank` (the
    * quantile-normalized feature a training pipeline feeds a model
    * instead of the raw value — robust to arbitrary monotone skew) and
    * `cume_dist` (the empirical CDF value). Both are rank-based, so
    * ties land identically regardless of physical row order — fully
    * deterministic. Nulls are excluded up front (engines disagree on
    * null sort position). */
  def rankScaling(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("value")
    events
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cdf", round(cume_dist().over(w), 6))
      .select("event_id", "event_type", "pct_rank", "cdf")
      .orderBy("event_id")
  }

  /** Time-weighted average per key (trapezoidal integration over the
    * event-time series — the standard irregular-sampling mean, same
    * semantics as TimescaleDB's `time_weight('Linear')`): each
    * consecutive segment contributes its mean value × duration, and
    * zero-length segments (timestamp ties, broken deterministically by
    * event_id) contribute nothing. Keys whose events all share one
    * timestamp have no time extent and are dropped. One window pass +
    * one aggregation; all terms positive, so cross-engine float drift
    * is n·ε relative — invisible at 4 decimals. */
  def timeWeightedAvg(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("tms", "event_id")
    events
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("event_id"),
        epochMs(col("ts")).as("tms"), col("value"))
      .withColumn("nt", lead("tms", 1).over(w))
      .withColumn("nv", lead("value", 1).over(w))
      .filter(col("nt").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_segments"),
        (sum((col("value") + col("nv")) / 2 * (col("nt") - col("tms")))
          / sum(col("nt") - col("tms"))).as("_twa"),
        sum(col("nt") - col("tms")).as("_span"))
      .filter(col("_span") > 0)
      .select(col("user_id"), col("n_segments"), round(col("_twa"), 4).as("twa"))
      .orderBy("user_id")
  }

  /** OHLC resampling (the financial-bars shape, generally useful for
    * any "first/last/extremes per bucket" rollup): one hash aggregation
    * using `min_by`/`max_by` over a UNIQUE event key — open/close are
    * deterministic argmins, not "first row the scan happened to see".
    * No window, no sort: partial→final all the way. */
  def ohlcBars(events: DataFrame): DataFrame = {
    // unique, engine-stable order key: epoch-ms (rebased so the scaled
    // key stays inside Long under ANSI) then the event id tiebreak
    val orderKey = (epochMs(col("ts")) - 1700000000000L) * 10000000L +
      pmod(col("event_id"), lit(10000000L))
    events
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"),
        round(min_by(col("value"), orderKey), 4).as("open"),
        round(max("value"), 4).as("high"),
        round(min("value"), 4).as("low"),
        round(max_by(col("value"), orderKey), 4).as("close"))
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n"), col("open"), col("high"), col("low"), col("close"))
      .orderBy("event_type", "day")
  }

  /** CUSUM changepoint scan per group over the daily mean series: the
    * cumulative sum of deviations from the group mean peaks (in
    * absolute value) at the most likely level-shift point — the
    * classic one-pass screen before fitting anything segmented. All
    * windows run over the DAYS-sized daily aggregate (bounded by the
    * calendar, never event count); the argmax is a rank-1 filter with
    * a day tiebreak, so the pick is deterministic. */
  def cusumChangepoint(events: DataFrame): DataFrame = {
    val daily = events
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(avg("value").as("v"))
    val whole = Window.partitionBy("event_type")
    val byDay = Window.partitionBy("event_type").orderBy("day")
    daily
      .withColumn("mu", avg("v").over(whole))
      .withColumn("n_days", count(lit(1)).over(whole))
      .withColumn("acs", abs(sum(col("v") - col("mu")).over(byDay)))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(desc("acs"), asc("day"))))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n_days"),
        date_format(col("day"), "yyyy-MM-dd").as("changepoint_day"),
        round(col("acs"), 4).as("max_abs_cusum"))
      .orderBy("event_type")
  }

  /** Wald–Wolfowitz runs test per group over the daily-delta SIGN
    * sequence: too few runs = trending/sticky, too many = oscillating;
    * |z| > 1.96 rejects randomness at 5%. Zero deltas are dropped (the
    * standard treatment). Everything runs over the days-sized daily
    * aggregate; the run count is `1 + Σ[sign_t ≠ sign_{t−1}]` — one
    * lag window, one aggregation. */
  def runsTest(events: DataFrame): DataFrame = {
    val daily = events
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(avg("value").as("v"))
    val byDay = Window.partitionBy("event_type").orderBy("day")
    val signs = daily
      .withColumn("delta", col("v") - lag("v", 1).over(byDay))
      .filter(col("delta").isNotNull && col("delta") =!= 0.0)
      .withColumn("sgn", when(col("delta") > 0, 1).otherwise(-1))
      .withColumn("prev_sgn", lag("sgn", 1).over(byDay))
    signs
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n_neg"),
        (lit(1L) + sum(when(col("prev_sgn").isNotNull
          && col("sgn") =!= col("prev_sgn"), 1L).otherwise(0L))).as("runs"))
      .withColumn("mu",
        lit(2.0) * col("n_pos") * col("n_neg") / col("n") + 1.0)
      .withColumn("sigma2",
        (col("mu") - 1.0) * (col("mu") - 2.0) / (col("n") - 1.0))
      .select(col("event_type"), col("n"), col("n_pos"), col("n_neg"),
        col("runs"),
        round((col("runs") - col("mu")) / sqrt(col("sigma2")), 4).as("z"))
      .orderBy("event_type")
  }

  /** Gaps-and-islands: per-user consecutive-active-day streaks via the
    * classic anchor trick — `day − row_number() · 1d` is constant
    * within an unbroken run, so islands fall out of ONE window over the
    * per-(user,day) DISTINCT frame (bounded by users × days, never the
    * raw event count) plus two hash aggregations. No self-join, no
    * iteration, no per-user sort beyond the windows' own. */
  /** Exact rolling median over a centered ±`radius`-row frame — the
    * spike-robust smoother a level-shift monitor wants where `w3`'s
    * rolling MEAN chases outliers. `percentile(…, 0.5)` runs as a
    * window AGGREGATE over the frame (state bounded by the frame's
    * 2·radius+1 rows, never the partition), interpolating exactly like
    * SQL `quantile_cont` — verified cross-engine. The window partitions
    * by key: per-key parallel, no global sort. Order must be unique
    * (orderCols) or frames are engine-dependent. */
  def rollingMedian(df: DataFrame, keyCol: String, orderCols: Seq[String],
                    valCol: String, radius: Int = 3): DataFrame = {
    val w = Window.partitionBy(keyCol)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(-radius, radius)
    df.withColumn("rolling_median",
      round(expr(s"percentile($valCol, 0.5)").over(w), 6))
  }

  /** Per-key maximum drawdown of the running value sum — "how far below
    * its historical peak did this series fall", the burn-rate /
    * regression-from-peak monitor (and the classic finance stat).
    * Two stacked windows over the SAME (key, order) spec — running sum,
    * then running max of it — share one exchange+sort; the final
    * numbers come from one aggregation. Per-key parallel throughout;
    * order must be unique for reproducible sums. */
  def maxDrawdown(df: DataFrame, keyCol: String, orderCols: Seq[String],
                  valCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn("_cum", sum(valCol).over(w))
      .withColumn("_peak", max("_cum").over(w))
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n"),
        round(max(col("_peak") - col("_cum")), 4).as("max_drawdown"),
        round(sum(valCol), 4).as("final_sum"))
      .orderBy(keyCol)
  }

  /** EXACT rolling distinct-user counts per day over a trailing
    * `windowDays` window — the DAU/WAU/MAU family. `count(DISTINCT)`
    * can't live inside a sliding window frame, so the rolling set
    * union is re-expressed as a bounded fan-out: each distinct
    * (user, day) pair contributes to the `windowDays` target days it
    * falls inside, then one distinct aggregate per target day. Fan-out
    * is windowDays× the DISTINCT pair table (already collapsed from
    * the corpus by the first aggregate), never windowDays× the raw
    * events — and the alternative naive day↔day range self-join would
    * shuffle the pair table per day instead. Targets are semi-joined
    * to days that actually occur, so silent calendar gaps stay gaps. */
  def rollingDistinctUsers(events: DataFrame, userCol: String,
                           tsCol: String, windowDays: Int = 7): DataFrame = {
    require(windowDays > 0, s"windowDays must be positive, got $windowDays")
    val pairs = events
      .select(col(userCol).as("_u"), to_date(col(tsCol)).as("_day"))
      .distinct()
    val days = pairs.select(col("_day").as("day")).distinct()
    pairs
      .withColumn("day", explode(sequence(col("_day"),
        date_add(col("_day"), windowDays - 1))))
      .join(days, Seq("day"), "left_semi")
      .groupBy("day")
      .agg(countDistinct("_u").as(s"users_${windowDays}d"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col(s"users_${windowDays}d"))
      .orderBy("day")
  }

  def activityStreaks(events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id"), col("ts").cast("date").as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    days
      .withColumn("anchor", date_sub(col("day"), row_number().over(w)))
      .groupBy("user_id", "anchor")
      .agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(sum("len").as("n_active_days"),
        max("len").as("longest_streak"),
        count(lit(1)).as("n_streaks"))
      .orderBy("user_id")
  }
}
