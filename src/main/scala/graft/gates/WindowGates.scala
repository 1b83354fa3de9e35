package graft
package gates

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{Relational, Windows}

/** Window gates (`w`): ranking, rolling, lead/lag, top-k and forecast
  * windows, plus the sequence-shaped funnel (`f`) and market-basket
  * (`mb`) families. */
object WindowGates extends Catalog {
  def gates: Seq[Gate] = Seq(
    Gate("w7_quartile_ranks", (s, d) => Windows.quartileRanks(Tables.orders(s, d)),
      """WITH r AS (SELECT o_orderpriority, o_orderkey,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           percent_rank() OVER w AS pr
           FROM orders
           WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey))
         SELECT o_orderpriority, quartile, count(*) AS cnt,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           round(max(pr),6) AS max_pr
         FROM r GROUP BY 1,2 ORDER BY 1,2"""),
    // cohort retention over the sparse high-value stream (value > 120 ≈
    // p91 keeps ~6 events/user, spreading first-seen dates where every
    // user's FULL stream starts day 1); grid is (cohort × offset) —
    // bounded by days², fully pinned
    Gate("w8_retention_cohorts", (s, d) =>
      graft.operators.Windows.retentionCohorts(
          Tables.events(s, d).filter(col("value") > 120), maxOffsetDays = 7)
        // dates → strings at the gate boundary (driver compare treats
        // DATE columns engine-specifically; same convention as a15)
        .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
          col("offset_days"), col("n_users"))
        .orderBy("cohort", "offset_days"),
      """WITH a AS (SELECT user_id, CAST(ts AS DATE) AS day
           FROM events WHERE value > 120),
         f AS (SELECT user_id, min(day) AS cohort FROM a GROUP BY 1)
         SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
           CAST(datediff('day', cohort, day) AS INT) AS offset_days,
           count(DISTINCT user_id) AS n_users
         FROM a JOIN f USING (user_id)
         WHERE datediff('day', cohort, day) <= 7
         GROUP BY 1,2 ORDER BY 1,2"""),
    // first-order (from → to) transition counts over per-user streams,
    // unique sort key so the pairing is engine-stable — fully pinned
    Gate("w10_transition_matrix", (s, d) =>
      graft.operators.Windows.transitionMatrix(Tables.events(s, d)),
      """WITH s AS (SELECT user_id, event_type,
           lead(event_type) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS next_type
           FROM events)
         SELECT event_type AS from_type, next_type AS to_type,
           count(*) AS n_transitions
         FROM s WHERE next_type IS NOT NULL
         GROUP BY 1,2 ORDER BY 1,2"""),
    // calendar gap-fill + forward-fill over a deliberately sparse daily
    // series (value > 240 ≈ p99): gap days must appear, carry the last
    // observation, and be flagged — all pinned
    Gate("w9_resample_ffill", (s, d) =>
      graft.operators.Windows.resampleDailyFfill(
          Tables.events(s, d).filter(col("value") > 240), "event_type")
        .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("avg_value"), col("filled_value"), col("is_gap"))
        .orderBy("event_type", "day"),
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
           round(avg(value),4) AS avg_value
           FROM events WHERE value > 240 GROUP BY 1,2),
         b AS (SELECT event_type, min(day) AS d0, max(day) AS d1
           FROM daily GROUP BY 1),
         grid AS (SELECT event_type,
           CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
           FROM b),
         j AS (SELECT g.event_type, g.day, d.avg_value
           FROM grid g LEFT JOIN daily d USING (event_type, day))
         SELECT event_type, strftime(day, '%Y-%m-%d') AS day, avg_value,
           last_value(avg_value IGNORE NULLS) OVER (PARTITION BY event_type
             ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS filled_value,
           avg_value IS NULL AS is_gap
         FROM j ORDER BY event_type, day"""),
    // RANGE-frame trailing-hour stats per user at every event: the
    // frame is keyed by epoch distance (ties are full peers), so the
    // full 10k+-row result pins exactly against the SQL RANGE window
    Gate("w14_range_rolling", (s, d) =>
      graft.operators.Windows.trailingWindowStats(Tables.events(s, d)),
      """SELECT event_id, user_id,
         count(*) OVER w AS n_trailing,
         round(sum(value) OVER w, 4) AS value_trailing
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
           RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id"""),
    // bounded-horizon EWMA (constant per-row work, no sequential scan)
    // pinned per-event against the oracle's UNTRUNCATED closed-form
    // cumsum — 4-decimal agreement proves the 2^-64 tail drop is exact
    Gate("w15_ewma", (s, d) =>
      graft.operators.Windows.ewma(Tables.events(s, d)),
      // untruncated closed form: weights β^(t-k) ∝ 2^k for β=½, so the
      // cumulative sums are exact power-of-two scalings of the engine's
      // fold — per-row agreement at 4 decimals over every event
      """WITH r AS (SELECT event_id, user_id, value,
           row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
           FROM events),
         c AS (SELECT event_id, user_id, rn,
           sum(value * pow(2.0, rn)) OVER w AS num,
           sum(pow(2.0, rn)) OVER w AS den
           FROM r
           WINDOW w AS (PARTITION BY user_id ORDER BY rn
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_id, user_id, rn, round(num / den, 4) AS ewma
         FROM c ORDER BY event_id"""),
    // rank-normalization scaling (percent_rank + empirical CDF) —
    // rank-based, so ties are order-independent; pinned per event
    Gate("w16_rank_scaling", (s, d) =>
      graft.operators.Windows.rankScaling(Tables.events(s, d)),
      """SELECT event_id, event_type,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cdf
         FROM events WHERE value IS NOT NULL
         WINDOW w AS (PARTITION BY event_type ORDER BY value)
         ORDER BY event_id"""),
    // trapezoidal time-weighted average per user over irregular
    // event-time samples; per-user integral + span pinned
    Gate("w17_time_weighted_avg", (s, d) =>
      graft.operators.Windows.timeWeightedAvg(Tables.events(s, d)),
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS tms, value
           FROM events WHERE value IS NOT NULL),
         s AS (SELECT user_id, tms, value,
           lead(tms) OVER w AS nt, lead(value) OVER w AS nv
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id))
         SELECT user_id, count(*) AS n_segments,
           round(sum((value + nv) / 2 * (nt - tms)) / sum(nt - tms), 4) AS twa
         FROM s WHERE nt IS NOT NULL
         GROUP BY 1 HAVING sum(nt - tms) > 0 ORDER BY user_id"""),
    // gaps-and-islands consecutive-day streaks (anchor-date trick, one
    // window over the distinct (user, day) frame)
    Gate("w19_streaks", (s, d) =>
      graft.operators.Windows.activityStreaks(Tables.events(s, d)),
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
           FROM events),
         i AS (SELECT user_id, day, day - CAST(row_number() OVER (
             PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
           FROM days),
         s AS (SELECT user_id, anchor, count(*) AS len FROM i GROUP BY 1, 2)
         SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
           max(len) AS longest_streak, count(*) AS n_streaks
         FROM s GROUP BY 1 ORDER BY user_id"""),
    // OHLC bars per (type, day): min_by/max_by over a unique order key
    // — one hash agg, no window, open/close deterministic
    Gate("w20_ohlc_bars", (s, d) =>
      graft.operators.Windows.ohlcBars(Tables.events(s, d)),
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day, value,
           (epoch_ms(ts) - 1700000000000) * 10000000
             + event_id % 10000000 AS ok
           FROM events WHERE value IS NOT NULL)
         SELECT event_type, strftime(day, '%Y-%m-%d') AS day, count(*) AS n,
           round(arg_min(value, ok), 4) AS open,
           round(max(value), 4) AS high,
           round(min(value), 4) AS low,
           round(arg_max(value, ok), 4) AS close
         FROM e GROUP BY 1, 2 ORDER BY 1, 2"""),
    // CUSUM changepoint scan per type over the daily series — peak
    // |cumulative deviation| day, deterministic tiebreak
    Gate("w24_cusum_changepoint", (s, d) =>
      graft.operators.Windows.cusumChangepoint(Tables.events(s, d)),
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
           avg(value) AS v FROM events WHERE value IS NOT NULL
           GROUP BY 1, 2),
         c0 AS (SELECT event_type, day, v,
           avg(v) OVER (PARTITION BY event_type) AS mu,
           count(*) OVER (PARTITION BY event_type) AS n_days
           FROM daily),
         c AS (SELECT event_type, day, n_days,
           abs(sum(v - mu) OVER (PARTITION BY event_type ORDER BY day))
             AS acs FROM c0),
         r AS (SELECT *, row_number() OVER (PARTITION BY event_type
             ORDER BY acs DESC, day) AS rn FROM c)
         SELECT event_type, n_days,
           strftime(day, '%Y-%m-%d') AS changepoint_day,
           round(acs, 4) AS max_abs_cusum
         FROM r WHERE rn = 1 ORDER BY event_type"""),
    // lag-1 autocorrelation of the daily series per type: the daily
    // aggregate self-joined one day forward, then one corr aggregate
    Gate("w22_autocorr", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(avg("value").as("v"))
      val nxt = daily.select(col("event_type"),
        date_sub(col("day"), 1).as("day"), col("v").as("v_next"))
      daily.join(nxt, Seq("event_type", "day"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"),
          round(corr(col("v"), col("v_next")), 6).as("autocorr_lag1"))
        .orderBy("event_type")
    },
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
           avg(value) AS v FROM events GROUP BY 1, 2),
         p AS (SELECT a.event_type, a.v, b.v AS v_next
           FROM d a JOIN d b ON a.event_type = b.event_type
             AND b.day = a.day + 1)
         SELECT event_type, count(*) AS n_pairs,
           round(corr(v, v_next), 6) AS autocorr_lag1
         FROM p GROUP BY 1 ORDER BY 1"""),
    // Pareto / cumulative-share deciles over per-customer revenue (the
    // 80/20 concentration curve); keys-only window
    Gate("w21_pareto_share", (s, d) =>
      Relational.paretoShare(Tables.orders(s, d), "o_custkey",
        "o_totalprice"),
      """WITH t AS (SELECT o_custkey AS k, sum(o_totalprice) AS v
           FROM orders GROUP BY 1),
         r AS (SELECT k, v,
           sum(v) OVER (ORDER BY v DESC, k) AS cum,
           sum(v) OVER () AS tot,
           row_number() OVER (ORDER BY v DESC, k) AS rk,
           count(*) OVER () AS n FROM t)
         SELECT CAST(ceil(rk * 10.0 / n) AS INT) AS decile,
           count(*) AS n_keys, round(max(cum / tot), 6) AS cum_share
         FROM r GROUP BY 1 ORDER BY 1"""),
    // dense_rank top-k WITH ties (vs w1's row_number semantics)
    Gate("w18_dense_topk_ties", (s, d) =>
      Relational.topValueBucketsWithTies(Tables.orders(s, d)),
      """WITH b AS (SELECT o_orderpriority,
           CAST(floor(o_totalprice / 1000) * 1000 AS BIGINT) AS price_bucket,
           count(*) AS n_orders
           FROM orders GROUP BY 1, 2),
         r AS (SELECT *, dense_rank() OVER (PARTITION BY o_orderpriority
             ORDER BY price_bucket DESC) AS rank
           FROM b)
         SELECT o_orderpriority, rank, price_bucket, n_orders
         FROM r WHERE rank <= 3 ORDER BY o_orderpriority, rank"""),
    // bounded-state top-k per group: a custom Aggregator keeps ≤k
    // (value,id) pairs per group (O(k) state, map-side combine) — the
    // composable/streamable twin of the WindowGroupLimit route (see
    // TopK scaladoc); rows and ranks are identical to the row_number
    // oracle under (value desc, id asc)
    Gate("w25_heap_topk", (s, d) =>
      graft.operators.TopK.topKByGroup(Tables.orders(s, d),
          "o_orderpriority", "o_totalprice", "o_orderkey", k = 3)
        .orderBy("o_orderpriority", "rank"),
      """WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey) AS rank
           FROM orders)
         SELECT o_orderpriority, rank, o_orderkey, o_totalprice
         FROM r WHERE rank <= 3 ORDER BY o_orderpriority, rank"""),
    // ordered 3-step funnel (view → click → purchase) per user, both
    // strict-ordering and 48h-max-gap variants in one pinned output;
    // every stage join/agg is keyed on user_id so the plan reuses one
    // hash partitioning end to end
    Gate("f1_funnel", (s, d) => {
      val ev = Tables.events(s, d)
      val steps = Seq("view", "click", "purchase")
      val strict = graft.operators.Funnel
        .ordered(ev, "user_id", "ts", "event_type", steps)
        .withColumn("variant", lit("strict"))
      val gapped = graft.operators.Funnel
        .ordered(ev, "user_id", "ts", "event_type", steps,
          Some(expr("INTERVAL 48 HOURS")))
        .withColumn("variant", lit("gap48h"))
      strict.unionByName(gapped).orderBy("variant", "step")
    },
      """WITH s1 AS MATERIALIZED (SELECT user_id, min(ts) AS t
           FROM events WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1),
         g2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t
             AND e.ts <= s1.t + INTERVAL 48 HOURS GROUP BY 1),
         g3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN g2 ON e.user_id = g2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > g2.t
             AND e.ts <= g2.t + INTERVAL 48 HOURS GROUP BY 1),
         n1 AS (SELECT count(*) AS n FROM s1),
         counts(variant, step, event_type, n_users) AS (
           SELECT 'strict', 1, 'view', (SELECT n FROM n1)
           UNION ALL SELECT 'strict', 2, 'click', (SELECT count(*) FROM s2)
           UNION ALL SELECT 'strict', 3, 'purchase', (SELECT count(*) FROM s3)
           UNION ALL SELECT 'gap48h', 1, 'view', (SELECT n FROM n1)
           UNION ALL SELECT 'gap48h', 2, 'click', (SELECT count(*) FROM g2)
           UNION ALL SELECT 'gap48h', 3, 'purchase', (SELECT count(*) FROM g3))
         SELECT step, event_type, n_users,
           round(n_users::DOUBLE / (SELECT n FROM n1), 4) AS pct_of_first,
           variant
         FROM counts ORDER BY variant, step"""),
    // pairwise association rules (support/confidence/lift) over the
    // brands co-occurring in an order: the quadratic step is per-basket
    // bounded and co-partitioned on the basket key; marginals broadcast
    Gate("mb1_brand_pairs", (s, d) =>
      graft.operators.MarketBasket.pairRules(
        Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey"), col("p_brand")),
        "l_orderkey", "p_brand"),
      """WITH b AS (SELECT DISTINCT l.l_orderkey AS bk, p.p_brand AS item
           FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
         nb AS (SELECT count(DISTINCT bk) AS n_baskets FROM b),
         m AS (SELECT item, count(*) AS n_item FROM b GROUP BY 1),
         pr AS (SELECT b1.item AS item_a, b2.item AS item_b,
             count(*) AS n_both
           FROM b b1 JOIN b b2 ON b1.bk = b2.bk AND b1.item < b2.item
           GROUP BY 1, 2)
         SELECT item_a, item_b, n_both,
           round(n_both / nb.n_baskets, 6) AS support,
           round(n_both / ma.n_item, 6) AS confidence,
           round(n_both * nb.n_baskets / (ma.n_item * m2.n_item), 4) AS lift
         FROM pr
         JOIN m ma ON ma.item = pr.item_a
         JOIN m m2 ON m2.item = pr.item_b
         CROSS JOIN nb
         ORDER BY item_a, item_b"""),
    // cumulative distinct users per day: first-seen election + one
    // bounded (days-sized) running-sum window — never a running
    // distinct over raw events
    Gate("w23_cumulative_users", (s, d) => {
      // high-value filter spreads first-seen dates (every user's FULL
      // stream otherwise starts day 1 — the w8 trick)
      val firstSeen = Tables.events(s, d)
        .filter(col("value") > 150)
        .groupBy("user_id")
        .agg(min(col("ts").cast("date")).as("day"))
        .groupBy("day").agg(count(lit(1)).as("new_users"))
      firstSeen
        .withColumn("cum_users",
          sum("new_users").over(
            org.apache.spark.sql.expressions.Window.orderBy("day")))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("new_users"), col("cum_users"))
        .orderBy("day")
    },
      """WITH fs AS (SELECT user_id, min(CAST(ts AS DATE)) AS day
           FROM events WHERE value > 150 GROUP BY 1),
         nu AS (SELECT day, count(*) AS new_users FROM fs GROUP BY 1)
         SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
           CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
         FROM nu ORDER BY day"""),
    // --- windows (SURVEY §2.5/§2.6 upgrades) ---
    Gate("w1_rank_per_group", (s, d) => Windows.topOrdersPerCustomer(Tables.orders(s, d)),
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
           FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn"""),
    Gate("w2_lag_deltas", (s, d) => Windows.userValueDeltas(Tables.events(s, d)),
      """SELECT user_id, round(avg(delta),4) AS avg_delta, count(delta) AS cnt FROM (
           SELECT user_id, value - lag(value) OVER
             (PARTITION BY user_id ORDER BY event_id) AS delta FROM events)
         GROUP BY 1 ORDER BY user_id"""),
    Gate("w3_rolling_avg", (s, d) => Windows.rollingDailyAvg(Tables.orders(s, d)),
      """WITH daily AS (SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
           round(sum(o_totalprice),0) AS total FROM orders GROUP BY 1)
         SELECT day, total, round(avg(total) OVER (ORDER BY day
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),4) AS avg7
         FROM daily ORDER BY day"""),
    // hot-key-safe sessionization: per-(key, time-chunk) parallel local
    // sessions, then a per-key merge over session SUMMARIES only — the
    // shipped mitigation for the one per-key-ordered serialization
    // (SCALE.md skew probe); pinned to a ts-ordered DuckDB oracle
    Gate("w11_sessionize_chunked", (s, d) =>
      Windows.sessionizeChunked(Tables.events(s, d), 30, chunkHours = 24),
      """WITH flagged AS (SELECT user_id,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                THEN 1 ELSE 0 END AS new_session, ts, event_id
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (SELECT user_id, sum(new_session) OVER (PARTITION BY user_id
           ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
           FROM flagged),
         counts AS (SELECT user_id, session_id, count(*) AS n FROM sess GROUP BY 1,2)
         SELECT user_id, count(*) AS n_sessions,
           round(avg(n),4) AS avg_session_events,
           max(n) AS max_session_events
         FROM counts GROUP BY 1 ORDER BY user_id"""),
    Gate("w5_funnel", (s, d) => Windows.conversionFunnel(Tables.events(s, d)),
      """WITH f AS (SELECT user_id, min(ts) AS first_from FROM events
           WHERE event_type = 'click' GROUP BY 1),
         c AS (SELECT e.user_id, min(e.ts) AS first_to
           FROM events e JOIN f ON e.user_id = f.user_id
           WHERE e.event_type = 'purchase' AND e.ts >= f.first_from GROUP BY 1)
         SELECT CAST(hour(first_from) AS INT) AS cohort_hour,
           count(*) AS n_users, count(first_to) AS n_converted,
           round(avg((epoch_ms(first_to) - epoch_ms(first_from)) / 60000.0), 4)
             AS avg_minutes_to_convert
         FROM f LEFT JOIN c ON f.user_id = c.user_id
         GROUP BY 1 ORDER BY cohort_hour"""),
    Gate("w4_asof_join", (s, d) => {
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
      val clicks = ev.filter(col("event_type") === "click")
      graft.operators.AsOfJoin
        .asOf(errors, clicks, key = "user_id", tsCol = "ts",
          tiebreak = "event_id", payloadCols = Seq("value"))
        .select(col("event_id"), col("user_id"),
          round(col("asof_value"), 4).as("last_click_value"))
        .orderBy("event_id")
    },
      """WITH u AS (
           SELECT user_id, ts, event_id, 1 AS side, NULL AS v
             FROM events WHERE event_type = 'error'
           UNION ALL
           SELECT user_id, ts, event_id, 0 AS side, value AS v
             FROM events WHERE event_type = 'click'),
         lastv AS (SELECT event_id, side, user_id,
           last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY ts, side, event_id ROWS UNBOUNDED PRECEDING) AS v
           FROM u)
         SELECT event_id, user_id, round(v, 4) AS last_click_value
         FROM lastv WHERE side = 1 ORDER BY event_id"""),
    // hot-key-safe as-of (chunk-and-carry; the serialized portion is
    // O(chunks) per key) — must equal the plain asOf, so it shares w4's
    // oracle semantics over ~30 daily chunks of the fixture
    Gate("w12_asof_chunked", (s, d) => {
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
      val clicks = ev.filter(col("event_type") === "click")
      graft.operators.AsOfJoin
        .asOfChunked(errors, clicks, key = "user_id", tsCol = "ts",
          tiebreak = "event_id", payloadCols = Seq("value"), chunkHours = 24)
        .select(col("event_id"), col("user_id"),
          round(col("asof_value"), 4).as("last_click_value"))
        .orderBy("event_id")
    },
      """WITH u AS (
           SELECT user_id, ts, event_id, 1 AS side, NULL AS v
             FROM events WHERE event_type = 'error'
           UNION ALL
           SELECT user_id, ts, event_id, 0 AS side, value AS v
             FROM events WHERE event_type = 'click'),
         lastv AS (SELECT event_id, side, user_id,
           last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY ts, side, event_id ROWS UNBOUNDED PRECEDING) AS v
           FROM u)
         SELECT event_id, user_id, round(v, 4) AS last_click_value
         FROM lastv WHERE side = 1 ORDER BY event_id"""),
    Gate("w6_asof_forward", (s, d) => {
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
      val clicks = ev.filter(col("event_type") === "click")
      graft.operators.AsOfJoin
        .asOfForward(errors, clicks, key = "user_id", tsCol = "ts",
          tiebreak = "event_id", payloadCols = Seq("value"))
        .select(col("event_id"), col("user_id"),
          round(col("asofnext_value"), 4).as("next_click_value"))
        .orderBy("event_id")
    },
      """WITH u AS (
           SELECT user_id, ts, event_id, 0 AS side, NULL AS v
             FROM events WHERE event_type = 'error'
           UNION ALL
           SELECT user_id, ts, event_id, 1 AS side, value AS v
             FROM events WHERE event_type = 'click'),
         nextv AS (SELECT event_id, side, user_id,
           first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY ts, side, event_id
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v
           FROM u)
         SELECT event_id, user_id, round(v, 4) AS next_click_value
         FROM nextv WHERE side = 0 ORDER BY event_id"""),
    // hot-key-safe FORWARD as-of (w12's chunk-and-carry mirrored in
    // time) — must equal plain asOfForward, so it shares w6's oracle
    // semantics over ~30 daily chunks of the fixture
    Gate("w13_asof_forward_chunked", (s, d) => {
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
      val clicks = ev.filter(col("event_type") === "click")
      graft.operators.AsOfJoin
        .asOfForwardChunked(errors, clicks, key = "user_id", tsCol = "ts",
          tiebreak = "event_id", payloadCols = Seq("value"), chunkHours = 24)
        .select(col("event_id"), col("user_id"),
          round(col("asofnext_value"), 4).as("next_click_value"))
        .orderBy("event_id")
    },
      """WITH u AS (
           SELECT user_id, ts, event_id, 0 AS side, NULL AS v
             FROM events WHERE event_type = 'error'
           UNION ALL
           SELECT user_id, ts, event_id, 1 AS side, value AS v
             FROM events WHERE event_type = 'click'),
         nextv AS (SELECT event_id, side, user_id,
           first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY ts, side, event_id
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v
           FROM u)
         SELECT event_id, user_id, round(v, 4) AS next_click_value
         FROM nextv WHERE side = 0 ORDER BY event_id"""),
    // running-peak max drawdown over a signed step series: two stacked
    // windows sharing one exchange; running sums are order-identical
    // cross-engine, so the trajectory pins exactly
    Gate("w28_max_drawdown", (s, d) =>
      graft.operators.Windows.maxDrawdown(
        Tables.events(s, d)
          .select(pmod(col("user_id"), lit(20L)).as("ukey"),
            col("event_id").as("oid"),
            (col("value") - 100.0).as("step")),
        "ukey", Seq("oid"), "step"),
      """WITH t AS (SELECT user_id % 20 AS ukey, event_id AS oid,
           value - 100.0 AS step FROM events),
         c AS (SELECT ukey, oid, step, sum(step) OVER (PARTITION BY ukey
             ORDER BY oid
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM t),
         p AS (SELECT ukey, step, cum, max(cum) OVER (PARTITION BY ukey
             ORDER BY oid
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
           FROM c)
         SELECT ukey, count(*) AS n,
           round(max(peak - cum), 4) AS max_drawdown,
           round(sum(step), 4) AS final_sum
         FROM p GROUP BY 1 ORDER BY ukey"""),
    // exact ±3-row rolling median per user (interpolating percentile
    // as a window aggregate — frame-bounded state, per-key parallel)
    Gate("w26_rolling_median", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(pmod(col("user_id"), lit(25L)) === 7)
        .select(col("user_id"), col("event_id"), col("value"))
      graft.operators.Windows
        .rollingMedian(ev, "user_id", Seq("event_id"), "value", radius = 3)
        .orderBy("user_id", "event_id")
    },
      """SELECT user_id, event_id, value,
           round(quantile_cont(value, 0.5) OVER (PARTITION BY user_id
             ORDER BY event_id
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 6) AS rolling_median
         FROM events WHERE user_id % 25 = 7 ORDER BY user_id, event_id"""),
    // seasonal-naive forecast accuracy (MASE, Hyndman-Koehler
    // denominator) over the 30-day × 5-type daily event series
    Gate("w29_seasonal_mase", (s, d) =>
      graft.operators.Forecast.seasonalNaiveMase(
        Tables.events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(avg(col("value")).as("v")),
        "event_type", "day", "v", season = 7),
      """WITH s AS (SELECT event_type, CAST(ts AS DATE) AS day,
           avg(value) AS v FROM events GROUP BY 1, 2),
         l AS (SELECT event_type, v,
             lag(v, 7) OVER (PARTITION BY event_type ORDER BY day) AS lm,
             lag(v, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1
           FROM s)
         SELECT event_type, count(lm) AS n_scored,
           round(avg(abs(v - lm)), 6) AS mae_seasonal,
           round(avg(abs(v - l1)), 6) AS mae_naive1,
           round(avg(abs(v - lm)) / avg(abs(v - l1)), 6) AS mase
         FROM l GROUP BY 1 ORDER BY event_type"""),
    // Holt linear-trend smoothing as a declarative higher-order fold
    // (no closures, fixed evaluation order); the oracle replays the
    // identical recurrence as a recursive CTE
    Gate("w30_holt_forecast", (s, d) =>
      graft.operators.Forecast.holt(
        Tables.events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(avg(col("value")).as("v")),
        "event_type", "day", "v", alpha = 0.3, beta = 0.1),
      """WITH RECURSIVE s AS (SELECT event_type, CAST(ts AS DATE) AS day,
           avg(value) AS v FROM events GROUP BY 1, 2),
         o AS (SELECT event_type, v, row_number()
             OVER (PARTITION BY event_type ORDER BY day) AS rn FROM s),
         rec AS (
           SELECT event_type, rn, v AS l, CAST(0 AS DOUBLE) AS b,
             CAST(0 AS DOUBLE) AS sse
           FROM o WHERE rn = 1
           UNION ALL
           SELECT o.event_type, o.rn,
             0.3 * o.v + 0.7 * (rec.l + rec.b),
             0.1 * ((0.3 * o.v + 0.7 * (rec.l + rec.b)) - rec.l)
               + 0.9 * rec.b,
             rec.sse + (o.v - (rec.l + rec.b)) * (o.v - (rec.l + rec.b))
           FROM rec JOIN o ON o.event_type = rec.event_type
             AND o.rn = rec.rn + 1),
         n AS (SELECT event_type, max(rn) AS nn FROM o GROUP BY 1)
         SELECT r.event_type AS event_type, CAST(n.nn AS BIGINT) AS n_obs,
           round(r.l, 6) AS level, round(r.b, 6) AS trend,
           round(r.sse, 6) AS sse, round(r.l + r.b, 6) AS fcst_1,
           round(r.l + 2.0 * r.b, 6) AS fcst_2,
           round(r.l + 3.0 * r.b, 6) AS fcst_3
         FROM rec r JOIN n ON n.event_type = r.event_type AND r.rn = n.nn
         ORDER BY 1"""),
    // peak-concurrency sweep over value-length intervals: +1/-1 event
    // explode, one running-sum window, half-open tie semantics; peak
    // and first-peak time are order-invariant under timestamp ties
    Gate("w32_max_concurrency", (s, d) => {
      val iv = Tables.events(s, d)
        .filter(col("ts").isNotNull && col("value").isNotNull
          && !isnan(col("value")))
        .select(col("event_type"),
          unix_timestamp(col("ts")).as("start_s"), col("value"))
        .withColumn("end_s",
          col("start_s") + floor(abs(col("value"))).cast("long") + 1)
        .drop("value")
      graft.operators.Intervals.maxConcurrency(iv, "event_type",
        "start_s", "end_s")
    },
      """WITH iv AS (SELECT event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS s,
           CAST(floor(epoch(ts)) AS BIGINT)
             + CAST(floor(abs(value)) AS BIGINT) + 1 AS e
           FROM events
           WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)),
         ev AS (SELECT event_type, s AS t, 1 AS d FROM iv
           UNION ALL SELECT event_type, e AS t, -1 AS d FROM iv),
         run AS (SELECT event_type, t, d,
             sum(d) OVER (PARTITION BY event_type ORDER BY t, d
               ROWS UNBOUNDED PRECEDING) AS r
           FROM ev),
         pk AS (SELECT event_type, max(r) AS peak FROM run GROUP BY 1)
         SELECT r.event_type AS event_type,
           CAST(count(*) / 2 AS BIGINT) AS n_intervals,
           CAST(max(pk.peak) AS BIGINT) AS peak,
           min(CASE WHEN r.r = pk.peak THEN r.t END) AS peak_at
         FROM run r JOIN pk ON pk.event_type = r.event_type
         GROUP BY 1 ORDER BY 1"""),
    // ordered sequential-pattern support (any-gap "a before b", the
    // length-2 Agrawal-Srikant core): corpus collapses to the
    // (user, item, first-ts) tier, quadratic only per user's item set
    Gate("mb2_sequence_pairs", (s, d) =>
      graft.operators.Sequences.orderedPairSupport(
        Tables.events(s, d), "user_id", "ts", "event_type"),
      """WITH f AS (SELECT user_id, event_type, min(ts) AS t FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL
             AND event_type IS NOT NULL
           GROUP BY 1, 2),
         tot AS (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS ns FROM f),
         p AS (SELECT a.event_type AS ant, b.event_type AS cons,
             sum(CASE WHEN a.t < b.t THEN 1 ELSE 0 END) AS n_ordered,
             count(*) AS n_both
           FROM f a JOIN f b ON a.user_id = b.user_id
             AND a.event_type <> b.event_type
           GROUP BY 1, 2)
         SELECT ant, cons, CAST(n_ordered AS BIGINT) AS n_ordered, n_both,
           round(n_ordered / n_both, 6) AS ordered_share,
           round(n_ordered / ns, 6) AS support
         FROM p CROSS JOIN tot WHERE n_ordered > 0
         ORDER BY ant, cons"""),
    // classical additive seasonal decomposition: centered 7-point MA
    // trend, zero-centered per-phase seasonal indices
    Gate("w31_seasonal_decompose", (s, d) =>
      graft.operators.Forecast.seasonalDecompose(
        Tables.events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(avg(col("value")).as("v")),
        "event_type", "day", "v", period = 7),
      """WITH s AS (SELECT event_type, CAST(ts AS DATE) AS day,
           avg(value) AS v FROM events GROUP BY 1, 2),
         o AS (SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
             avg(v) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS tr,
             count(*) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS cnt
           FROM s),
         d AS (SELECT event_type, (rn - 1) % 7 AS phase, v - tr AS dd
           FROM o WHERE cnt = 7),
         raw AS (SELECT event_type, phase, count(*) AS n_obs,
             avg(dd) AS sr FROM d GROUP BY 1, 2),
         c AS (SELECT event_type, avg(sr) AS cc FROM raw GROUP BY 1)
         SELECT raw.event_type AS event_type, CAST(phase AS INT) AS phase,
           n_obs, round(sr - cc, 6) AS seasonal_index
         FROM raw JOIN c ON c.event_type = raw.event_type
         ORDER BY 1, 2"""),
    // exact trailing-7-day distinct users per day (WAU) on the sparse
    // high-value stream — bounded explode fan-out, one distinct agg
    Gate("w33_rolling_distinct", (s, d) =>
      Windows.rollingDistinctUsers(
        Tables.events(s, d).filter(col("value") > 250),
        "user_id", "ts", windowDays = 7),
      // exact trailing-7-day distinct users per occurring day
      """WITH p AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
           FROM events WHERE value > 250),
         d AS (SELECT DISTINCT day FROM p)
         SELECT strftime(d.day, '%Y-%m-%d') AS day,
           count(DISTINCT p.user_id) AS users_7d
         FROM d JOIN p ON p.day BETWEEN d.day - 6 AND d.day
         GROUP BY 1 ORDER BY 1"""),
    // Box-Jenkins cross-correlation: does click volume lead purchase
    // volume? lags −3..+3 over the aligned daily-count tier
    Gate("w34_lead_lag_corr", (s, d) =>
      graft.operators.Forecast.crossCorrelation(Tables.events(s, d),
        "ts", "event_type", typeX = "click", typeY = "purchase", maxLag = 3),
      // sample Pearson CCF between the two daily count series per lag
      """WITH a AS (SELECT CAST(ts AS DATE) AS day, count(*) AS x
           FROM events WHERE event_type = 'click' GROUP BY 1),
         b AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         l AS (SELECT * FROM (VALUES (-3),(-2),(-1),(0),(1),(2),(3)) t(lag))
         SELECT l.lag, count(*) AS n_days, round(corr(a.x, b.y), 4) AS ccf
         FROM l JOIN a ON true JOIN b ON b.day = a.day + l.lag
         GROUP BY 1 ORDER BY 1"""),
    // time-to-convert per consecutive funnel step (exact median/p90
    // minutes from microsecond-exact latencies)
    Gate("f2_funnel_latency", (s, d) =>
      graft.operators.Funnel.stepLatency(Tables.events(s, d),
        "user_id", "ts", "event_type", Seq("signup", "click", "purchase")),
      // exact interpolating percentiles over microsecond-exact latencies
      """WITH p1_fa AS (SELECT user_id, min(ts) AS ta FROM events
           WHERE event_type = 'signup' GROUP BY 1),
         p1_c AS (SELECT fa.user_id, fa.ta, min(e.ts) AS tb
           FROM p1_fa fa JOIN events e ON e.user_id = fa.user_id
             AND e.event_type = 'click' AND e.ts >= fa.ta GROUP BY 1, 2),
         p1_l AS (SELECT (epoch_us(tb) - epoch_us(ta)) / 60000000.0 AS lat
           FROM p1_c),
         p2_fa AS (SELECT user_id, min(ts) AS ta FROM events
           WHERE event_type = 'click' GROUP BY 1),
         p2_c AS (SELECT fa.user_id, fa.ta, min(e.ts) AS tb
           FROM p2_fa fa JOIN events e ON e.user_id = fa.user_id
             AND e.event_type = 'purchase' AND e.ts >= fa.ta GROUP BY 1, 2),
         p2_l AS (SELECT (epoch_us(tb) - epoch_us(ta)) / 60000000.0 AS lat
           FROM p2_c)
         SELECT 'signup->click' AS step,
           (SELECT count(*) FROM p1_fa) AS n_entered,
           (SELECT count(*) FROM p1_c) AS n_converted,
           round(quantile_cont(lat, 0.5), 4) AS median_minutes,
           round(quantile_cont(lat, 0.9), 4) AS p90_minutes FROM p1_l
         UNION ALL
         SELECT 'click->purchase',
           (SELECT count(*) FROM p2_fa),
           (SELECT count(*) FROM p2_c),
           round(quantile_cont(lat, 0.5), 4),
           round(quantile_cont(lat, 0.9), 4) FROM p2_l
         ORDER BY step"""),
    // calendar-aligned MoM/YoY growth over 80 months of order revenue
    Gate("w35_period_growth", (s, d) =>
      graft.operators.Forecast.periodOverPeriod(
        Tables.orders(s, d), "o_orderdate", "o_totalprice"),
      // growth joined on COMPUTED prior-period keys; totals rounded
      // before the ratios
      """WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
             round(sum(o_totalprice), 4) AS revenue
           FROM orders GROUP BY 1),
         k AS (SELECT month, revenue,
             strftime(CAST(month || '-01' AS DATE) - INTERVAL 1 MONTH,
               '%Y-%m') AS prev_m,
             strftime(CAST(month || '-01' AS DATE) - INTERVAL 12 MONTH,
               '%Y-%m') AS prev_y
           FROM m)
         SELECT k.month, k.revenue,
           round((k.revenue - pm.revenue) / pm.revenue, 4) AS mom_pct,
           round((k.revenue - py.revenue) / py.revenue, 4) AS yoy_pct
         FROM k LEFT JOIN m pm ON pm.month = k.prev_m
           LEFT JOIN m py ON py.month = k.prev_y
         ORDER BY 1"""),
    // "bought X also bought Y": per-item top-3 neighbors by basket
    // cosine, rounded before ranking so the cut is engine-independent
    Gate("mb3_item_item_cf", (s, d) =>
      graft.operators.MarketBasket.itemItemTopK(
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), (col("l_partkey") % 40).as("item")),
        "l_orderkey", "item", k = 3),
      // per-item top-3 by rounded basket cosine, neighbor-id tie-break
      """WITH bk AS (SELECT DISTINCT l_orderkey AS bk, l_partkey % 40 AS item
           FROM lineitem),
         m AS (SELECT item, count(*) AS n FROM bk GROUP BY 1),
         p AS (SELECT a.item AS item, b.item AS other, count(*) AS n_both
           FROM bk a JOIN bk b ON a.bk = b.bk AND a.item <> b.item
           GROUP BY 1, 2),
         s AS (SELECT p.item, p.other, p.n_both,
             round(p.n_both / sqrt(mx.n * my.n), 6) AS cosine
           FROM p JOIN m mx ON mx.item = p.item
             JOIN m my ON my.item = p.other),
         r AS (SELECT *, row_number() OVER
             (PARTITION BY item ORDER BY cosine DESC, other) AS rank FROM s)
         SELECT CAST(item AS BIGINT) AS item, CAST(rank AS INT) AS rank,
           CAST(other AS BIGINT) AS other, n_both, cosine
         FROM r WHERE rank <= 3 ORDER BY item, rank""")
  )
}
