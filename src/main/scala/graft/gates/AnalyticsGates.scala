package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{Relational, Windows}
import graft.ml.Outliers

import Shared.fnvSql

/** Analytics gates: grouped statistics, sketches, outliers and trends
  * (`a`), drift tests (`dr`), data quality (`dq`) and privacy (`dp`),
  * column profiles (`pr`), experiment analysis (`ex`) and attribution
  * (`at`). */
object AnalyticsGates extends Catalog {
  def gates: Seq[Gate] = Seq(
    // --- aggregations (SURVEY §2.4) ---
    Gate("a1_hourly_profile", (s, d) => Relational.hourlyProfile(Tables.events(s, d)),
      """SELECT CAST(hour(ts) AS INT) AS hr, round(avg(value),4) AS avg_value,
         count(*) AS cnt FROM events GROUP BY 1 ORDER BY hr"""),
    Gate("a3_busiest_keys", (s, d) => Relational.busiestKeys(Tables.orders(s, d)),
      """SELECT o_custkey, count(*) AS trip_count FROM orders GROUP BY 1
         ORDER BY trip_count DESC, o_custkey LIMIT 100"""),
    Gate("a6_rollup_totals", (s, d) => Relational.rollupTotals(Tables.orders(s, d)),
      """SELECT o_orderpriority, o_orderstatus, count(*) AS cnt,
         round(sum(o_totalprice),0) AS total FROM orders
         GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
         ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST"""),
    Gate("a28_cube_totals", (s, d) => Relational.cubeTotals(Tables.lineitem(s, d)),
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
         round(sum(l_quantity),0) AS sum_qty FROM lineitem
         GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),
    // arbitrary GROUPING SETS (detail, status margin, grand total) in
    // one Expand+aggregate — the non-hierarchical list ROLLUP can't say
    Gate("a32_grouping_sets", (s, d) =>
      Relational.groupingSetTotals(Tables.lineitem(s, d)),
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
         round(sum(l_quantity), 0) AS sum_qty FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
           (l_linestatus), ())
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),
    // group-wise winsorized stats: exact per-group p5/p95 clamp, raw vs
    // robust mean pinned (oracle replays with quantile_cont, which
    // Spark's exact `percentile` interpolation matches)
    Gate("a30_winsorized_stats", (s, d) =>
      Relational.winsorizedStats(Tables.lineitem(s, d),
        "l_returnflag", "l_extendedprice", 0.05, 0.95),
      """WITH b AS (SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.05) AS qlo,
           quantile_cont(l_extendedprice, 0.95) AS qhi
           FROM lineitem GROUP BY 1),
         w AS (SELECT lineitem.l_returnflag AS l_returnflag, l_extendedprice,
           least(greatest(l_extendedprice, qlo), qhi) AS wv
           FROM lineitem JOIN b ON lineitem.l_returnflag = b.l_returnflag)
         SELECT l_returnflag, count(*) AS n,
           round(avg(l_extendedprice), 4) AS mean_raw,
           round(avg(wv), 4) AS mean_winsorized,
           round(min(wv), 4) AS w_lo, round(max(wv), 4) AS w_hi
         FROM w GROUP BY 1 ORDER BY 1"""),
    // Wald-Wolfowitz runs test on daily-delta signs — the randomness
    // screen; runs/z pinned per type
    Gate("a46_runs_test", (s, d) =>
      graft.operators.Windows.runsTest(Tables.events(s, d)),
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
           avg(value) AS v FROM events WHERE value IS NOT NULL
           GROUP BY 1, 2),
         dl AS (SELECT event_type, day, v - lag(v) OVER (
             PARTITION BY event_type ORDER BY day) AS delta FROM daily),
         sg AS (SELECT event_type, day,
           CASE WHEN delta > 0 THEN 1 ELSE -1 END AS sgn
           FROM dl WHERE delta IS NOT NULL AND delta <> 0.0),
         pv AS (SELECT event_type, sgn, lag(sgn) OVER (
             PARTITION BY event_type ORDER BY day) AS prev FROM sg),
         agg AS (SELECT event_type, count(*) AS n,
           CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pos,
           CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_neg,
           CAST(1 + sum(CASE WHEN prev IS NOT NULL AND sgn <> prev
             THEN 1 ELSE 0 END) AS BIGINT) AS runs
           FROM pv GROUP BY 1),
         m AS (SELECT *, 2.0 * n_pos * n_neg / n + 1.0 AS mu FROM agg)
         SELECT event_type, n, n_pos, n_neg, runs,
           round((runs - mu)
             / sqrt((mu - 1.0) * (mu - 2.0) / (n - 1.0)), 4) AS z
         FROM m ORDER BY event_type"""),
    // Welch's t-test per event type between even/odd user cohorts: one
    // conditional co-moment pass, t/df/decision pinned
    Gate("dr5_ab_ttest", (s, d) =>
      graft.operators.Drift.welchTTest(Tables.events(s, d), "event_type",
        "value", pmod(col("user_id"), lit(2L)) === 0),
      """WITH g AS (SELECT event_type,
           count(*) FILTER (user_id % 2 = 0) AS n_a,
           count(*) FILTER (user_id % 2 <> 0) AS n_b,
           avg(value) FILTER (user_id % 2 = 0) AS m_a,
           avg(value) FILTER (user_id % 2 <> 0) AS m_b,
           var_samp(value) FILTER (user_id % 2 = 0) AS v_a,
           var_samp(value) FILTER (user_id % 2 <> 0) AS v_b
           FROM events WHERE value IS NOT NULL GROUP BY 1)
         SELECT event_type, n_a, n_b,
           round(m_a - m_b, 4) AS mean_diff,
           round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 4) AS t_stat,
           round(pow(v_a / n_a + v_b / n_b, 2)
             / (pow(v_a / n_a, 2) / (n_a - 1)
               + pow(v_b / n_b, 2) / (n_b - 1)), 2) AS df_welch,
           abs((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b)) > 1.96
             AS significant
         FROM g ORDER BY event_type"""),
    // functional-dependency audit: one held FD (the key) and two
    // violated ones over the same table, fan-out pinned
    Gate("dq3_fd_violations", (s, d) =>
      graft.operators.Quality.fdViolations(Tables.events(s, d), Seq(
        ("event_id->user_id", "event_id", "user_id"),
        ("user_id->event_type", "user_id", "event_type"),
        ("event_type->user_id", "event_type", "user_id"))),
      """WITH
         fd AS (
           SELECT 'event_id->user_id' AS fd, count(*) AS d FROM (
             SELECT DISTINCT event_id AS k, user_id AS v FROM events)
             GROUP BY k
           UNION ALL
           SELECT 'user_id->event_type', count(*) FROM (
             SELECT DISTINCT user_id AS k, event_type AS v FROM events)
             GROUP BY k
           UNION ALL
           SELECT 'event_type->user_id', count(*) FROM (
             SELECT DISTINCT event_type AS k, user_id AS v FROM events)
             GROUP BY k)
         SELECT fd, count(*) AS n_keys,
           CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           max(d) AS max_fanout,
           sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) = 0 AS holds
         FROM fd GROUP BY fd ORDER BY fd"""),
    Gate("a7_grouped_stats", (s, d) => Relational.groupedStats(Tables.lineitem(s, d)),
      """SELECT l_returnflag, count(*) AS cnt, round(sum(l_extendedprice),0) AS sum_price,
         round(avg(l_extendedprice),4) AS avg_price,
         round(quantile_cont(l_quantity, 0.5),4) AS median_qty,
         round(quantile_cont(l_extendedprice, 0.9),4) AS p90_price
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""),
    Gate("a10_baseline_ratio", (s, d) => Relational.baselineRatio(Tables.orders(s, d)),
      """SELECT o_orderpriority,
         round(avg(CASE WHEN o_orderdate < DATE '1998-01-01' THEN o_totalprice END),4) AS baseline_avg,
         round(avg(o_totalprice),4) AS overall_avg,
         round(round(avg(o_totalprice),4) /
           round(avg(CASE WHEN o_orderdate < DATE '1998-01-01' THEN o_totalprice END),4) * 100, 4)
           AS pct_of_baseline
         FROM orders GROUP BY 1 ORDER BY o_orderpriority"""),
    Gate("a12_median_by_group", (s, d) => Relational.medianByGroup(Tables.events(s, d)),
      """SELECT event_type, round(quantile_cont(value, 0.5),4) AS median_value,
         count(*) AS cnt FROM events GROUP BY 1 ORDER BY event_type"""),
    Gate("a16_segmentation", (s, d) => Relational.segmentation(Tables.lineitem(s, d)),
      """SELECT l_linestatus,
         count(CASE WHEN l_quantity <= 10 THEN 1 END) AS small,
         count(CASE WHEN l_quantity > 10 AND l_quantity <= 25 THEN 1 END) AS medium,
         count(CASE WHEN l_quantity > 25 THEN 1 END) AS large,
         round(min(l_quantity),4) AS min_qty, round(max(l_quantity),4) AS max_qty
         FROM lineitem GROUP BY 1 ORDER BY l_linestatus"""),
    Gate("a17_value_counts_topk", (s, d) => Relational.valueCountsTopK(Tables.part(s, d)),
      """SELECT p_brand, count(*) AS cnt FROM part GROUP BY 1
         ORDER BY cnt DESC, p_brand LIMIT 10"""),
    Gate("a18_histogram", (s, d) => Relational.histogram(Tables.lineitem(s, d)),
      """SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bin, count(*) AS cnt
         FROM lineitem GROUP BY 1 ORDER BY bin"""),
    Gate("a19_revenue_pivot", (s, d) => Relational.revenuePivot(Tables.orders(s, d)),
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         round(sum(CASE WHEN o_orderstatus='F' THEN o_totalprice END),0) AS F,
         round(sum(CASE WHEN o_orderstatus='O' THEN o_totalprice END),0) AS O,
         round(sum(CASE WHEN o_orderstatus='P' THEN o_totalprice END),0) AS P
         FROM orders GROUP BY 1 ORDER BY o_year"""),
    // wide→long melt via the built-in unpivot (inverse of a19's pivot)
    Gate("a33_unpivot", (s, d) => Relational.unpivotSummary(Tables.lineitem(s, d)),
      """WITH g AS (SELECT l_returnflag,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price,
           round(avg(l_discount), 6) AS avg_disc,
           round(avg(l_tax), 6) AS avg_tax
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM g
         UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM g
         UNION ALL SELECT l_returnflag, 'avg_disc', avg_disc FROM g
         UNION ALL SELECT l_returnflag, 'avg_tax', avg_tax FROM g
         ORDER BY l_returnflag, metric"""),
    // weighted / geometric / harmonic means — one partial→final pass
    Gate("a34_generalized_means", (s, d) =>
      Relational.generalizedMeans(Tables.lineitem(s, d)),
      """SELECT l_returnflag, count(*) AS cnt,
           round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4)
             AS weighted_avg_price,
           round(exp(avg(ln(l_extendedprice))), 4) AS geo_mean_price,
           round(count(*) / sum(1.0 / l_extendedprice), 4) AS harm_mean_price
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""),
    // Benford first-digit audit over order totals: digit distribution
    // + chi-square against log10(1 + 1/d) — the fraud/synthetic-data
    // screen; digits extracted via integer floor (engine-stable)
    Gate("a44_benford", (s, d) => {
      val digit = substring(floor(col("o_totalprice")).cast("long")
        .cast("string"), 1, 1).cast("int")
      val counts = Tables.orders(s, d)
        .filter(col("o_totalprice") >= 1)
        .groupBy(digit.as("digit"))
        .agg(count(lit(1)).as("n"))
      val total = counts.agg(sum("n").as("tot"))
      counts.crossJoin(broadcast(total))
        .select(col("digit"), col("n"),
          round(col("n") / col("tot"), 6).as("observed_p"),
          round(log10(lit(1.0) + lit(1.0) / col("digit")), 6)
            .as("benford_p"),
          round(pow(col("n") - col("tot") * log10(lit(1.0) + lit(1.0) / col("digit")), 2)
            / (col("tot") * log10(lit(1.0) + lit(1.0) / col("digit"))), 4)
            .as("chi2_term"))
        .orderBy("digit")
    },
      """WITH c AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice)
             AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
           count(*) AS n
           FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c)
         SELECT digit, n,
           round(n / tot, 6) AS observed_p,
           round(log10(1.0 + 1.0 / digit), 6) AS benford_p,
           round(pow(n - tot * log10(1.0 + 1.0 / digit), 2)
             / (tot * log10(1.0 + 1.0 / digit)), 4) AS chi2_term
         FROM c CROSS JOIN t ORDER BY digit"""),
    // percentile ladder (p50/p90/p99) per group — ONE exact percentile
    // aggregate evaluating all three cut points over a single sort
    Gate("a42_percentile_ladder", (s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))").as("p"))
        .select(col("l_returnflag"),
          round(element_at(col("p"), 1), 4).as("p50"),
          round(element_at(col("p"), 2), 4).as("p90"),
          round(element_at(col("p"), 3), 4).as("p99"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
         FROM lineitem GROUP BY 1 ORDER BY 1"""),
    // deterministic sorted listagg (the LISTAGG/string_agg surface):
    // collect_set sorted before joining, so the string is order-stable
    Gate("a45_sorted_listagg", (s, d) =>
      Tables.orders(s, d).groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          array_join(array_sort(collect_set(col("o_orderstatus"))), ",")
            .as("statuses"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority, count(*) AS n,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
             AS statuses
         FROM orders GROUP BY 1 ORDER BY o_orderpriority"""),
    // exact mode per group, deterministic smallest-value tie-break —
    // two hash aggs, max_by over (count, -value)
    Gate("a41_mode_by_group", (s, d) =>
      Relational.modeByGroup(Tables.lineitem(s, d), "l_returnflag",
        "l_quantity"),
      """WITH c AS (SELECT l_returnflag, l_quantity AS v, count(*) AS c
           FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2),
         r AS (SELECT l_returnflag, v, c,
           row_number() OVER (PARTITION BY l_returnflag
             ORDER BY c DESC, v ASC) AS rn,
           count(*) OVER (PARTITION BY l_returnflag) AS n_distinct
           FROM c)
         SELECT l_returnflag, v AS mode, c AS mode_count, n_distinct
         FROM r WHERE rn = 1 ORDER BY l_returnflag"""),
    // FK discovery: inclusion coefficients for three candidate key
    // relationships — valid FKs pin at 1.0, the reversed direction
    // exposes the keys with no fact rows
    Gate("pr5_fk_inclusion", (s, d) => {
      def row(name: String, c: DataFrame, ck: String, p: DataFrame,
              pk: String) =
        graft.operators.Profile.inclusionExact(c, ck, p, pk)
          .withColumn("fk", lit(name))
      row("orders.custkey->customer", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey")
        .unionByName(row("lineitem.orderkey->orders", Tables.lineitem(s, d),
          "l_orderkey", Tables.orders(s, d), "o_orderkey"))
        .unionByName(row("customer.custkey->high_value_orders",
          Tables.customer(s, d), "c_custkey",
          Tables.orders(s, d).filter(col("o_totalprice") > 300000),
          "o_custkey"))
        .orderBy("fk")
    },
      """WITH pairs AS (
           SELECT 'orders.custkey->customer' AS fk,
             (SELECT count(DISTINCT o_custkey) FROM orders) AS n_child_keys,
             (SELECT count(DISTINCT o.o_custkey) FROM orders o
               WHERE EXISTS (SELECT 1 FROM customer c
                 WHERE c.c_custkey = o.o_custkey)) AS n_contained
           UNION ALL
           SELECT 'lineitem.orderkey->orders',
             (SELECT count(DISTINCT l_orderkey) FROM lineitem),
             (SELECT count(DISTINCT l.l_orderkey) FROM lineitem l
               WHERE EXISTS (SELECT 1 FROM orders o
                 WHERE o.o_orderkey = l.l_orderkey))
           UNION ALL
           SELECT 'customer.custkey->high_value_orders',
             (SELECT count(DISTINCT c_custkey) FROM customer),
             (SELECT count(DISTINCT c.c_custkey) FROM customer c
               WHERE EXISTS (SELECT 1 FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                   AND o.o_totalprice > 300000)))
         SELECT fk, n_child_keys, n_contained,
           round(n_contained::DOUBLE / n_child_keys, 4) AS inclusion
         FROM pairs ORDER BY fk"""),
    // pairwise correlation matrix (6 coefficients, ONE agg pass)
    Gate("pr3_corr_matrix", (s, d) =>
      graft.operators.Profile.corrMatrix(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
      """SELECT * FROM (
           SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
             round(corr(l_quantity, l_extendedprice), 6) AS corr FROM lineitem
           UNION ALL SELECT 'l_quantity', 'l_discount',
             round(corr(l_quantity, l_discount), 6) FROM lineitem
           UNION ALL SELECT 'l_quantity', 'l_tax',
             round(corr(l_quantity, l_tax), 6) FROM lineitem
           UNION ALL SELECT 'l_extendedprice', 'l_discount',
             round(corr(l_extendedprice, l_discount), 6) FROM lineitem
           UNION ALL SELECT 'l_extendedprice', 'l_tax',
             round(corr(l_extendedprice, l_tax), 6) FROM lineitem
           UNION ALL SELECT 'l_discount', 'l_tax',
             round(corr(l_discount, l_tax), 6) FROM lineitem)
         ORDER BY col_a, col_b"""),
    // exact weighted median per group — cumulative weight over the
    // value order with the peers-inclusive RANGE frame, so the pick is
    // deterministic; weights are integral so the boundary test is exact
    Gate("a38_weighted_median", (s, d) =>
      Relational.weightedMedian(Tables.lineitem(s, d), "l_returnflag",
        "l_extendedprice", "l_quantity"),
      """WITH t AS (SELECT l_returnflag, l_extendedprice, l_quantity,
           sum(l_quantity) OVER (PARTITION BY l_returnflag
             ORDER BY l_extendedprice) AS cw,
           sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL)
         SELECT l_returnflag, min(l_extendedprice) AS weighted_median,
           round(max(tw), 4) AS total_weight
         FROM t WHERE cw >= tw * 0.5 GROUP BY 1 ORDER BY 1"""),
    // full weighted-quantile ladder from the SAME single window pass —
    // each cut point is one conditional min aggregate
    Gate("a43_weighted_quantiles", (s, d) =>
      Relational.weightedQuantiles(Tables.lineitem(s, d), "l_returnflag",
        "l_extendedprice", "l_quantity"),
      """WITH t AS (SELECT l_returnflag, l_extendedprice, l_quantity,
           sum(l_quantity) OVER (PARTITION BY l_returnflag
             ORDER BY l_extendedprice) AS cw,
           sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL)
         SELECT l_returnflag,
           min(CASE WHEN cw >= tw * 0.25 THEN l_extendedprice END) AS wq_25,
           min(CASE WHEN cw >= tw * 0.5 THEN l_extendedprice END) AS wq_50,
           min(CASE WHEN cw >= tw * 0.9 THEN l_extendedprice END) AS wq_90
         FROM t GROUP BY 1 ORDER BY 1"""),
    // equi-depth histogram (ntile over a total order): equal row mass
    // per bucket, per-bucket count/min/max pinned
    Gate("a39_equidepth_hist", (s, d) =>
      Relational.equiDepthHistogram(Tables.lineitem(s, d)),
      """WITH t AS (SELECT l_returnflag, l_extendedprice,
           ntile(8) OVER (PARTITION BY l_returnflag
             ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
           FROM lineitem)
         SELECT l_returnflag, bucket, count(*) AS n,
           round(min(l_extendedprice), 4) AS lo,
           round(max(l_extendedprice), 4) AS hi
         FROM t GROUP BY 1, 2 ORDER BY 1, 2"""),
    // per-group TWO-feature ridge regression: closed-form 2×2 normal-
    // equation solve from one co-moment pass (multivariate a35)
    Gate("a37_grouped_ridge", (s, d) =>
      Relational.groupedRidge2(Tables.lineitem(s, d), "l_returnflag",
        col("l_quantity"), col("l_discount"), col("l_extendedprice")),
      """WITH g AS (SELECT l_returnflag, count(*) AS n,
           var_pop(l_quantity) + 1e-6 AS s11,
           var_pop(l_discount) + 1e-6 AS s22,
           covar_pop(l_quantity, l_discount) AS s12,
           covar_pop(l_quantity, l_extendedprice) AS c1y,
           covar_pop(l_discount, l_extendedprice) AS c2y,
           avg(l_quantity) AS m1, avg(l_discount) AS m2,
           avg(l_extendedprice) AS my
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, n,
           round((c1y*s22 - s12*c2y) / (s11*s22 - s12*s12), 4) AS b1,
           round((c2y*s11 - s12*c1y) / (s11*s22 - s12*s12), 4) AS b2,
           round(my - (c1y*s22 - s12*c2y) / (s11*s22 - s12*s12) * m1
                    - (c2y*s11 - s12*c1y) / (s11*s22 - s12*s12) * m2, 4)
             AS intercept
         FROM g ORDER BY l_returnflag"""),
    // per-group OLS (slope/intercept/r²) in one co-moment agg pass
    Gate("a35_grouped_ols", (s, d) =>
      Relational.groupedOls(Tables.events(s, d), "event_type",
        expr("unix_millis(cast(ts as timestamp))") / lit(86400000.0),
        col("value")),
      """WITH e AS (SELECT event_type,
           epoch_ms(ts) / 86400000.0 AS x, value AS y
           FROM events WHERE value IS NOT NULL)
         SELECT event_type, count(*) AS n,
           round(covar_pop(x, y) / var_pop(x), 6) AS slope,
           round(avg(y) - covar_pop(x, y) / var_pop(x) * avg(x), 6)
             AS intercept,
           round(pow(corr(x, y), 2), 6) AS r2
         FROM e GROUP BY 1 ORDER BY event_type"""),
    // per-group skewness/excess-kurtosis from raw power moments (one
    // agg pass; explicit algebra, not the engine-specific builtins)
    Gate("a47_higher_moments", (s, d) =>
      Relational.higherMoments(Tables.lineitem(s, d),
        "l_returnflag", "l_quantity"),
      """WITH r AS (SELECT l_returnflag, count(*) AS n, avg(l_quantity) AS m,
           avg(l_quantity * l_quantity) AS e2,
           avg(l_quantity * l_quantity * l_quantity) AS e3,
           avg(l_quantity * l_quantity * l_quantity * l_quantity) AS e4
           FROM lineitem GROUP BY 1),
         c AS (SELECT l_returnflag, n, m,
           e2 - m * m AS m2,
           e3 - 3.0 * m * e2 + 2.0 * m * m * m AS m3,
           e4 - 4.0 * m * e3 + 6.0 * m * m * e2 - 3.0 * m * m * m * m AS m4
           FROM r)
         SELECT l_returnflag, n, round(m, 6) AS mean, round(m2, 6) AS m2,
           round(m3 / pow(m2, 1.5), 6) AS skewness,
           round(m4 / (m2 * m2) - 3.0, 6) AS kurtosis_excess
         FROM c ORDER BY l_returnflag"""),
    // k-anonymity / l-diversity census over quasi-identifiers: one
    // hash agg keyed by the QI tuple, scalar roll-up over group sizes
    Gate("dq4_k_anonymity", (s, d) =>
      graft.operators.Privacy.kAnonymityCensus(Tables.customer(s, d),
        Seq("c_mktsegment", "c_nationkey"),
        (col("c_acctbal") < 0).cast("int"), k = 10),
      """WITH g AS (SELECT c_mktsegment, c_nationkey, count(*) AS n,
           count(DISTINCT CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS l
           FROM customer GROUP BY 1, 2)
         SELECT count(*) AS n_groups,
           CAST(sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_small_groups,
           CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
             AS rows_at_risk,
           min(n) AS min_group_size, min(l) AS min_l_diversity
         FROM g"""),
    // DP-style Laplace mechanism on per-lang counts (sensitivity-1
    // count query, seeded inverse-CDF draw keyed on the lang code)
    Gate("dp1_noised_counts", (s, d) =>
      graft.operators.Privacy.laplaceNoisedCounts(
        Tables.documents(s, d), "lang",
        (ascii(substring(col("lang"), 1, 1)) * 256
          + ascii(substring(col("lang"), 2, 1))).cast("long"),
        eps = 0.5),
      // Lehmer LCG uniform → inverse-CDF Laplace(1/eps), eps = 0.5
      """WITH g AS (SELECT lang, count(*) AS true_count FROM documents
           GROUP BY 1),
         k AS (SELECT *, CAST(ascii(substr(lang, 1, 1)) * 256
             + ascii(substr(lang, 2, 1)) AS BIGINT) AS key FROM g),
         n AS (SELECT lang, true_count,
           (CAST((key * 48271 + 1) % 2147483647 AS DOUBLE) + 1)
             / 2147483648.0 AS u FROM k)
         SELECT lang, true_count,
           round(true_count
             + (-1.0 / 0.5) * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)), 4)
             AS noised,
           CAST(greatest(round(true_count
             + (-1.0 / 0.5) * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5))), 0)
             AS BIGINT) AS released
         FROM n ORDER BY lang"""),
    // CUPED variance-reduced per-arm means: unit = user, pre/post split
    // at mid-month, arms by user parity (an A/A split — adjusted and
    // raw means coincide in expectation; var_ratio pins the reduction)
    Gate("ex1_cuped", (s, d) =>
      graft.operators.Experiment.cuped(Tables.events(s, d),
        "user_id", "value",
        preCol = dayofmonth(col("ts")) <= 15,
        armCol = pmod(col("user_id"), lit(2L))),
      """WITH u AS (SELECT user_id,
           coalesce(sum(CASE WHEN day(ts) <= 15 THEN value END), 0) AS pre,
           coalesce(sum(CASE WHEN day(ts) > 15 THEN value END), 0) AS post
           FROM events WHERE value IS NOT NULL GROUP BY 1),
         s AS (SELECT avg(pre) AS mean_pre,
           CASE WHEN var_pop(pre) > 0
             THEN covar_pop(pre, post) / var_pop(pre) ELSE 0 END AS theta
           FROM u),
         a AS (SELECT user_id % 2 AS arm, post,
           post - theta * (pre - mean_pre) AS adj FROM u, s)
         SELECT arm, count(*) AS n_units,
           round(avg(post), 6) AS mean_post,
           round(avg(adj), 6) AS mean_adj,
           round(CASE WHEN var_pop(post) > 0
             THEN var_pop(adj) / var_pop(post) ELSE 1 END, 6) AS var_ratio
         FROM a GROUP BY 1 ORDER BY 1"""),
    // sample-ratio-mismatch chi-square over distinct users in 3 arms
    // (df=2 → critical 5.991)
    Gate("ex2_srm", (s, d) =>
      graft.operators.Experiment.srmCheck(Tables.events(s, d),
        "user_id", pmod(col("user_id"), lit(3L)), critical = 5.991),
      """WITH b AS (SELECT user_id % 3 AS arm,
           count(DISTINCT user_id) AS n FROM events GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total,
           count(*) AS n_arms FROM b)
         SELECT t.total AS n_units, t.n_arms AS n_arms,
           round(sum(pow(b.n - CAST(t.total AS DOUBLE) / t.n_arms, 2)
             / (CAST(t.total AS DOUBLE) / t.n_arms)), 6) AS chi2,
           round(sum(pow(b.n - CAST(t.total AS DOUBLE) / t.n_arms, 2)
             / (CAST(t.total AS DOUBLE) / t.n_arms)), 6) > 5.991
             AS srm_detected
         FROM b, t GROUP BY t.total, t.n_arms"""),
    // 2x2 difference-in-differences: treat = even users, post = second
    // half of the month, metric = event value
    Gate("ex3_did", (s, d) =>
      graft.operators.Experiment.diffInDiff(Tables.events(s, d), "value",
        treatCol = pmod(col("user_id"), lit(2L)) === 0,
        postCol = dayofmonth(col("ts")) > 15),
      """SELECT count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n_treat,
           count(CASE WHEN user_id % 2 <> 0 THEN 1 END) AS n_control,
           round(avg(CASE WHEN user_id % 2 = 0 AND day(ts) <= 15
             THEN value END), 6) AS m_t_pre,
           round(avg(CASE WHEN user_id % 2 = 0 AND day(ts) > 15
             THEN value END), 6) AS m_t_post,
           round(avg(CASE WHEN user_id % 2 <> 0 AND day(ts) <= 15
             THEN value END), 6) AS m_c_pre,
           round(avg(CASE WHEN user_id % 2 <> 0 AND day(ts) > 15
             THEN value END), 6) AS m_c_post,
           round((avg(CASE WHEN user_id % 2 = 0 AND day(ts) > 15
               THEN value END)
             - avg(CASE WHEN user_id % 2 = 0 AND day(ts) <= 15
               THEN value END))
             - (avg(CASE WHEN user_id % 2 <> 0 AND day(ts) > 15
               THEN value END)
             - avg(CASE WHEN user_id % 2 <> 0 AND day(ts) <= 15
               THEN value END)), 6) AS did
         FROM events WHERE value IS NOT NULL"""),
    // coarsened-exact-matching ATT: strata = event_type x 6h-of-day
    // bucket, treated = every-7th user
    Gate("ex4_cem_att", (s, d) =>
      graft.operators.Experiment.cemAtt(Tables.events(s, d), "value",
        treatCol = pmod(col("user_id"), lit(7L)) === 0,
        strataCols = Seq(col("event_type"),
          floor(hour(col("ts")) / 6).as("hb"))),
      """WITH s AS (SELECT event_type, floor(hour(ts) / 6) AS hb,
           count(CASE WHEN user_id % 7 = 0 THEN 1 END) AS n_t,
           count(CASE WHEN user_id % 7 <> 0 THEN 1 END) AS n_c,
           avg(CASE WHEN user_id % 7 = 0 THEN value END) AS m_t,
           avg(CASE WHEN user_id % 7 <> 0 THEN value END) AS m_c
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
         SELECT count(*) AS n_strata,
           count(CASE WHEN n_t > 0 AND n_c > 0 THEN 1 END) AS n_matched,
           CAST(coalesce(sum(CASE WHEN n_t > 0 AND n_c > 0 THEN n_t END),
             0) AS BIGINT) AS treated_matched,
           round(sum(CASE WHEN n_t > 0 AND n_c > 0
               THEN n_t * (m_t - m_c) END)
             / sum(CASE WHEN n_t > 0 AND n_c > 0 THEN n_t END), 6) AS att
         FROM s"""),
    // minimum detectable effect per event type at 5%/80% from per-arm
    // counts and the pooled variance
    Gate("ex5_mde", (s, d) =>
      graft.operators.Experiment.mde(Tables.events(s, d),
        "event_type", "value",
        armCol = pmod(col("user_id"), lit(2L)) === 0),
      """WITH g AS (SELECT event_type,
           count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n_a,
           count(CASE WHEN user_id % 2 <> 0 THEN 1 END) AS n_b,
           var_samp(value) AS v, avg(value) AS m
           FROM events WHERE value IS NOT NULL GROUP BY 1)
         SELECT event_type, n_a, n_b,
           round(sqrt(v), 6) AS sd_pooled,
           round(2.801585 * sqrt(v / n_a + v / n_b), 6) AS mde_abs,
           round(2.801585 * sqrt(v / n_a + v / n_b) / m, 6) AS mde_rel
         FROM g WHERE n_a > 0 AND n_b > 0 ORDER BY event_type"""),
    // two-proportion z-test per event type: value>50 conversion between
    // user-parity arms (binary-metric sibling of dr5's Welch test)
    Gate("ex6_prop_ztest", (s, d) =>
      graft.operators.Experiment.proportionTest(Tables.events(s, d),
        "event_type", successCol = col("value") > 50,
        armCol = pmod(col("user_id"), lit(2L)) === 0),
      """WITH g AS (SELECT event_type,
           count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n_a,
           count(CASE WHEN user_id % 2 <> 0 THEN 1 END) AS n_b,
           count(CASE WHEN user_id % 2 = 0 AND value > 50
             THEN 1 END) AS x_a,
           count(CASE WHEN user_id % 2 <> 0 AND value > 50
             THEN 1 END) AS x_b
           FROM events GROUP BY 1),
         t AS (SELECT event_type, n_a, n_b,
           CAST(x_a AS DOUBLE) / n_a AS pa,
           CAST(x_b AS DOUBLE) / n_b AS pb,
           CAST(x_a + x_b AS DOUBLE) / (n_a + n_b) AS pp FROM g
           WHERE n_a > 0 AND n_b > 0),
         u AS (SELECT *, sqrt(pp * (1 - pp)
           * (1.0 / n_a + 1.0 / n_b)) AS se FROM t)
         SELECT event_type, n_a, n_b,
           round(pa, 6) AS p_a, round(pb, 6) AS p_b,
           round(CASE WHEN se > 0 THEN (pa - pb) / se ELSE 0 END, 6)
             AS z_stat,
           abs(CASE WHEN se > 0 THEN (pa - pb) / se ELSE 0 END)
             > 1.959964 AS significant
         FROM u ORDER BY event_type"""),
    // Mantel-Haenszel pooled odds ratio across event-type strata:
    // every-7th-user treatment vs value>50 success
    Gate("ex7_mantel_haenszel", (s, d) =>
      graft.operators.Experiment.mantelHaenszel(Tables.events(s, d),
        treatCol = pmod(col("user_id"), lit(7L)) === 0,
        successCol = col("value") > 50,
        strataCols = Seq(col("event_type"))),
      """WITH s AS (SELECT event_type,
           count(CASE WHEN user_id % 7 = 0 AND value > 50
             THEN 1 END) AS a,
           count(CASE WHEN user_id % 7 = 0 AND NOT (value > 50)
             THEN 1 END) AS b,
           count(CASE WHEN user_id % 7 <> 0 AND value > 50
             THEN 1 END) AS c,
           count(CASE WHEN user_id % 7 <> 0 AND NOT (value > 50)
             THEN 1 END) AS d
           FROM events GROUP BY 1),
         t AS (SELECT *, CAST(a + b + c + d AS DOUBLE) AS n FROM s),
         u AS (SELECT count(*) AS n_strata,
           CAST(sum(a) AS BIGINT) AS tot_treat_succ,
           CAST(sum(c) AS BIGINT) AS tot_ctrl_succ,
           sum(CAST(a AS DOUBLE) * d / n) AS sad,
           sum(CAST(b AS DOUBLE) * c / n) AS sbc FROM t)
         SELECT n_strata, tot_treat_succ, tot_ctrl_succ,
           round(CASE WHEN sbc > 0 THEN sad / sbc END, 6) AS or_mh,
           round(CASE WHEN sbc > 0 AND sad > 0 THEN ln(sad / sbc) END, 6)
             AS log_or_mh
         FROM u"""),
    // uplift by targeting-score bucket + running Qini numerator: the
    // hash-derived score, user-parity treatment, value>50 response
    Gate("ex8_uplift_buckets", (s, d) =>
      graft.operators.Experiment.upliftBuckets(
        Tables.events(s, d).withColumn("p",
          pmod(col("user_id") * lit(2654435761L), lit(1000L)) / 1000.0),
        "p", treatCol = pmod(col("user_id"), lit(2L)) === 0,
        responseCol = col("value") > 50, nBuckets = 10),
      """WITH s AS (SELECT (user_id * 2654435761 % 1000) / 1000.0 AS p,
           user_id % 2 = 0 AS tr, value > 50 AS resp
           FROM events WHERE value IS NOT NULL),
         b AS (SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bucket,
           count(CASE WHEN tr THEN 1 END) AS n_t,
           count(CASE WHEN NOT tr THEN 1 END) AS n_c,
           count(CASE WHEN tr AND resp THEN 1 END) AS r_t,
           count(CASE WHEN NOT tr AND resp THEN 1 END) AS r_c
           FROM s GROUP BY 1),
         c AS (SELECT *, sum(r_t) OVER w AS cum_rt,
           sum(r_c) OVER w AS cum_rc, sum(n_t) OVER w AS cum_nt,
           sum(n_c) OVER w AS cum_nc FROM b
           WINDOW w AS (ORDER BY bucket DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT bucket, n_t, n_c,
           round(CASE WHEN n_t > 0 AND n_c > 0
             THEN CAST(r_t AS DOUBLE) / n_t - CAST(r_c AS DOUBLE) / n_c
             END, 6) AS uplift,
           round(CASE WHEN cum_nc > 0
             THEN cum_rt - CAST(cum_rc AS DOUBLE) * cum_nt / cum_nc
             END, 6) AS qini_cum
         FROM c ORDER BY bucket DESC"""),
    // delta-method CI for the ratio metric "purchase revenue per
    // event" with user-level clustering (row-level variance would be
    // wrong — rows within a user are correlated)
    Gate("ex9_ratio_delta", (s, d) =>
      graft.operators.Experiment.ratioDeltaMethod(Tables.events(s, d),
        "user_id",
        numCol = when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0)),
        denCol = lit(1.0)),
      """WITH u AS (SELECT user_id,
           coalesce(sum(CASE WHEN event_type = 'purchase' THEN value
             ELSE 0 END), 0) AS x,
           coalesce(sum(1.0), 0) AS y
           FROM events GROUP BY 1),
         g AS (SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my,
           var_samp(x) AS sxx, var_samp(y) AS syy,
           covar_samp(x, y) AS sxy FROM u),
         f AS (SELECT n,
           CASE WHEN my <> 0 THEN mx / my END AS r,
           CASE WHEN my <> 0 THEN
             sqrt((sxx - 2 * (mx / my) * sxy
               + (mx / my) * (mx / my) * syy) / (n * my * my)) END AS se
           FROM g)
         SELECT n AS n_units, round(r, 6) AS ratio, round(se, 6) AS se,
           round(r - 1.959964 * se, 6) AS ci_lo,
           round(r + 1.959964 * se, 6) AS ci_hi
         FROM f"""),
    // post-stratified mean of value: every-5th-user sample re-weighted
    // to the full population's event-type mix
    Gate("ex10_poststrat", (s, d) =>
      graft.operators.Experiment.postStratifiedMean(Tables.events(s, d),
        "event_type", "value",
        samplePred = pmod(col("user_id"), lit(5L)) === 0),
      """WITH s AS (SELECT event_type, count(*) AS n_pop,
           count(CASE WHEN user_id % 5 = 0 AND value IS NOT NULL
             THEN 1 END) AS n_samp,
           avg(CASE WHEN user_id % 5 = 0 THEN value END) AS m_samp
           FROM events GROUP BY 1)
         SELECT CAST(sum(n_samp) AS BIGINT) AS n_sample,
           round(sum(m_samp * n_samp) / sum(n_samp), 6) AS naive_mean,
           round(sum(CASE WHEN n_samp > 0 THEN n_pop * m_samp END)
             / sum(CASE WHEN n_samp > 0 THEN n_pop END), 6)
             AS poststrat_mean,
           round(CAST(sum(CASE WHEN n_samp > 0 THEN n_pop END) AS DOUBLE)
             / sum(n_pop), 6) AS covered_share
         FROM s"""),
    // KMV bottom-k distinct sketch per source: deterministic sketch
    // state (k smallest FNV hashes), estimate oracle-pinned exactly —
    // the mergeable-sketch shape HLL can't pin bit-for-bit
    Gate("a52_kmv_distinct", (s, d) =>
      Relational.kmvDistinctEstimate(Tables.documents(s, d),
        "source", "text", k = 256),
      s"""WITH h AS (SELECT DISTINCT source,
           ${fnvSql("text", 2166136261L)} AS h FROM documents
           WHERE text IS NOT NULL),
         r AS (SELECT source, h, row_number() OVER (PARTITION BY source
           ORDER BY h) AS rk FROM h),
         f AS (SELECT source, h, rk FROM r WHERE rk <= 256),
         g AS (SELECT source, count(*) AS n_kept,
           max(CASE WHEN rk = 256 THEN h END) AS kth FROM f GROUP BY 1)
         SELECT source, n_kept,
           round(CASE WHEN n_kept < 256 THEN CAST(n_kept AS DOUBLE)
             ELSE 255.0 / (kth / 4294967296.0) END, 4) AS kmv_estimate
         FROM g ORDER BY source"""),
    // KMV set operations between two sources' n_chars value sets —
    // Jaccard / union / intersection from the combined bottom-k sketch
    Gate("a53_kmv_setops", (s, d) =>
      Relational.kmvSetOps(
        Tables.documents(s, d).withColumn("len_str",
          col("n_chars").cast("string")),
        "source", "len_str", "src0", "src1", k = 256),
      s"""WITH side AS (SELECT DISTINCT
           CASE WHEN source = 'src0' THEN 'a' ELSE 'b' END AS g,
           ${fnvSql("CAST(n_chars AS VARCHAR)", 2166136261L)} AS h
           FROM documents WHERE source IN ('src0', 'src1')
             AND n_chars IS NOT NULL),
         sk AS (SELECT g, h, row_number() OVER (PARTITION BY g
           ORDER BY h) AS rk FROM side),
         f AS (SELECT g, h FROM sk WHERE rk <= 256),
         u AS (SELECT h, row_number() OVER (ORDER BY h) AS urk
           FROM (SELECT DISTINCT h FROM f)),
         uk AS (SELECT h FROM u WHERE urk <= 256),
         fl AS (SELECT uk.h,
           max(CASE WHEN f.g = 'a' THEN 1 ELSE 0 END) AS in_a,
           max(CASE WHEN f.g = 'b' THEN 1 ELSE 0 END) AS in_b
           FROM uk JOIN f ON uk.h = f.h GROUP BY 1),
         g2 AS (SELECT count(*) AS k_eff,
           CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_both,
           max(h) AS kth FROM fl)
         SELECT k_eff, n_both,
           round(CAST(n_both AS DOUBLE) / k_eff, 6) AS est_jaccard,
           round(CASE WHEN k_eff < 256 THEN CAST(k_eff AS DOUBLE)
             ELSE (k_eff - 1.0) / (kth / 4294967296.0) END, 4) AS est_union,
           round(CAST(n_both AS DOUBLE) / k_eff
             * CASE WHEN k_eff < 256 THEN CAST(k_eff AS DOUBLE)
               ELSE (k_eff - 1.0) / (kth / 4294967296.0) END, 4)
             AS est_intersection
         FROM g2"""),
    // per-segment Gini over customer spend totals (rank formula; the
    // window ranks the key-cardinality totals table, never raw rows)
    Gate("a49_gini", (s, d) => {
      val j = Tables.orders(s, d).join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      Relational.giniByGroup(j, "c_mktsegment", "c_custkey", "o_totalprice")
    },
      """WITH t AS (SELECT c_mktsegment, c_custkey, sum(o_totalprice) AS x
           FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
         r AS (SELECT c_mktsegment, x, row_number() OVER (
             PARTITION BY c_mktsegment ORDER BY x, c_custkey) AS i FROM t)
         SELECT c_mktsegment, count(*) AS n_keys,
           round(2.0 * sum(i * x) / (count(*) * sum(x))
             - CAST(count(*) + 1 AS DOUBLE) / count(*), 6) AS gini
         FROM r GROUP BY 1 ORDER BY c_mktsegment"""),
    // grouped Spearman rank correlation: average ranks (tie-correct)
    // from per-group windows, then ONE corr aggregate — value vs
    // hour-of-day, so the heavy y-ties exercise the averaging
    Gate("a48_spearman", (s, d) =>
      Relational.spearmanByGroup(
        Tables.events(s, d).withColumn("hr", hour(col("ts")).cast("long")),
        "event_type", "value", "hr"),
      """WITH r AS (SELECT event_type,
           rank() OVER (PARTITION BY event_type ORDER BY value)
             + (count(*) OVER (PARTITION BY event_type, value) - 1) / 2.0 AS rx,
           rank() OVER (PARTITION BY event_type ORDER BY hour(ts))
             + (count(*) OVER (PARTITION BY event_type, hour(ts)) - 1) / 2.0 AS ry
           FROM events)
         SELECT event_type, count(*) AS n, round(corr(rx, ry), 6) AS spearman
         FROM r GROUP BY 1 ORDER BY event_type"""),
    // category-balance report (entropy / normalized entropy / HHI) —
    // the training-mix skew diagnostic, closed-form in two hash aggs
    Gate("a36_distribution_balance", (s, d) =>
      Relational.distributionBalance(Tables.documents(s, d), "source", "lang"),
      """WITH cc AS (SELECT source, lang, count(*) AS c
           FROM documents GROUP BY 1, 2),
         g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_cats,
           sum(c * ln(c)) AS clnc, sum(c * c) AS c2
           FROM cc GROUP BY 1)
         SELECT source, n, n_cats,
           round(ln(n) - clnc / n, 6) AS entropy,
           round(CASE WHEN n_cats = 1 THEN 1.0
             ELSE (ln(n) - clnc / n) / ln(n_cats) END, 6) AS norm_entropy,
           round(c2 / (n * n), 6) AS hhi
         FROM g ORDER BY source"""),
    Gate("a21_corr_slope", (s, d) => Relational.corrAndSlope(Tables.lineitem(s, d)),
      """SELECT l_returnflag, round(corr(l_quantity, l_extendedprice),6) AS r,
         round(covar_samp(l_quantity, l_extendedprice) / var_samp(l_quantity),4) AS ols_slope
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""),
    Gate("a26_heavy_hitters", (s, d) =>
      Relational.verifiedHeavyHitters(Tables.events(s, d), "user_id", support = 0.008),
      """SELECT user_id, count(*) AS cnt FROM events GROUP BY 1
         HAVING count(*) > (SELECT count(*) FROM events) * 0.008
         ORDER BY cnt DESC, user_id"""),
    // the sketch quantile (100 TB path for A12/A7's exact percentiles)
    // checked by its own contract: percentile_approx(accuracy=10000)
    // bounds RANK error at 1e-4, so the count of rows below/at the
    // approx median must bracket the 50% rank within ±1% (wide margin
    // over the sketch bound + per-value tie mass); the exact median is
    // pinned numerically alongside
    Gate("a27_quantile_approx", (s, d) => {
      val li = Tables.lineitem(s, d).select("l_returnflag", "l_quantity")
      val g = li.groupBy("l_returnflag").agg(
        round(expr("percentile(l_quantity, 0.5)"), 4).as("median_exact"),
        expr("percentile_approx(l_quantity, 0.5, 10000)").as("median_approx"),
        count(lit(1)).as("n"))
      li.join(g, "l_returnflag")
        .groupBy("l_returnflag")
        .agg(first("median_exact").as("median_exact"),
          sum(when(col("l_quantity") < col("median_approx"), 1L).otherwise(0L)).as("lt"),
          sum(when(col("l_quantity") <= col("median_approx"), 1L).otherwise(0L)).as("le"),
          max("n").as("n"))
        .select(col("l_returnflag"), col("median_exact"),
          (col("lt") <= col("n") * 0.51 && col("le") >= col("n") * 0.49)
            .as("approx_rank_in_bounds"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5),4) AS median_exact,
         true AS approx_rank_in_bounds
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""),
    // count-min sketch frequency estimates: deterministic fnv-hashed
    // 4×256 sketch over user_id, probed for ids 1..10 — estimates pinned
    // exactly (the sketch is a pure function of the data) and the
    // never-underestimate invariant demanded alongside the exact counts
    Gate("a29_cms_estimates", (s, d) => {
      val ev = Tables.events(s, d)
      val sketch = graft.operators.CountMin.build(ev, col("user_id"),
        depth = 4, width = 256)
      val probes = ev.filter(col("user_id").between(1, 10))
      val est = graft.operators.CountMin.estimate(sketch,
        probes.select(col("user_id")), col("user_id"), depth = 4, width = 256)
      val exact = probes.groupBy(col("user_id").cast("string").as("key"))
        .agg(count(lit(1)).as("exact_cnt"))
      est.join(exact, "key")
        .select(col("key").cast("long").as("user_id"), col("est"),
          col("exact_cnt"), (col("est") >= col("exact_cnt")).as("never_under"))
        .orderBy("user_id")
    },
      s"""WITH base AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events
           WHERE user_id IS NOT NULL),
         ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
         sk AS (SELECT d,
             ${fnvSql("CAST(d AS VARCHAR) || ':' || k", 2166136261L)} % 256
               AS bucket, count(*) AS cnt
           FROM base CROSS JOIN ds GROUP BY 1, 2),
         probes AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS k
           FROM events WHERE user_id BETWEEN 1 AND 10),
         pe AS (SELECT k, d,
             ${fnvSql("CAST(d AS VARCHAR) || ':' || k", 2166136261L)} % 256
               AS bucket
           FROM probes CROSS JOIN ds),
         est AS (SELECT pe.k, min(coalesce(sk.cnt, 0)) AS est
           FROM pe LEFT JOIN sk USING (d, bucket) GROUP BY 1),
         ex AS (SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS exact_cnt
           FROM events WHERE user_id BETWEEN 1 AND 10 GROUP BY 1)
         SELECT CAST(est.k AS BIGINT) AS user_id, est.est AS est,
           ex.exact_cnt, est.est >= ex.exact_cnt AS never_under
         FROM est JOIN ex ON est.k = ex.k
         ORDER BY user_id"""),
    Gate("a25_salted_agg", (s, d) =>
      graft.operators.Skew.saltedCountSum(Tables.lineitem(s, d), "l_returnflag", "l_quantity")
        .select(col("l_returnflag"), col("cnt"), round(col("total"), 0).as("total"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag, count(*) AS cnt, round(sum(l_quantity),0) AS total
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""),
    Gate("a15_daily_zscore", (s, d) => Windows.dailyZscore(Tables.events(s, d)),
      """WITH daily AS (SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS cnt
           FROM events GROUP BY 1)
         SELECT day, cnt,
           round((cnt - avg(cnt) OVER ()) / stddev(cnt) OVER (),4) AS z,
           CASE WHEN z < -1.5 THEN 'Low' WHEN z > 1.5 THEN 'High'
                ELSE 'Normal' END AS bucket
         FROM daily ORDER BY day"""),
    // data-quality assertion report (the validate-before-ingest pass —
    // the reference's interleaved ad-hoc count() checks as ONE
    // aggregation): every rule type exercised, all counts pinned
    Gate("dq1_quality_report", (s, d) => {
      import graft.operators.Quality
      Quality.check(Tables.lineitem(s, d), Seq(
        Quality.NotNull("l_quantity"),
        Quality.InRange("l_quantity", 1.0, 50.0),
        Quality.InSet("l_returnflag", Seq("A", "N", "R")),
        Quality.Unique(Seq("l_orderkey", "l_linenumber")),
        Quality.Satisfies("price_nonneg", col("l_extendedprice") >= 0)))
    },
      // invariant oracles for the seeded/iterative gates (ml5/p6 pattern):
      // the oracle pins what it CAN compute (exact row counts over the
      // same feature domain) and DEMANDS the booleans the Spark side
      // machine-checks — every gate is now pinned, zero rows-only
      """WITH m AS (SELECT count(*) AS n_rows,
           count(CASE WHEN l_quantity IS NULL THEN 1 END) AS v0,
           count(CASE WHEN l_quantity IS NOT NULL
             AND (l_quantity < 1 OR l_quantity > 50) THEN 1 END) AS v1,
           count(CASE WHEN l_returnflag IS NOT NULL
             AND l_returnflag NOT IN ('A','N','R') THEN 1 END) AS v2,
           count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS v3,
           count(CASE WHEN NOT coalesce(l_extendedprice >= 0, true)
             THEN 1 END) AS v4
         FROM lineitem)
         SELECT * FROM (
           SELECT 'not_null(l_quantity)' AS rule, n_rows,
             v0 AS n_violations, v0 = 0 AS pass FROM m
           UNION ALL SELECT 'in_range(l_quantity,1.0,50.0)', n_rows, v1, v1 = 0 FROM m
           UNION ALL SELECT 'in_set(l_returnflag)', n_rows, v2, v2 = 0 FROM m
           UNION ALL SELECT 'unique(l_orderkey,l_linenumber)', n_rows, v3, v3 = 0 FROM m
           UNION ALL SELECT 'satisfies(price_nonneg)', n_rows, v4, v4 = 0 FROM m
         ) ORDER BY rule"""),
    // the uniqueness rule's 100 TB twin under contract: HLL distinctness
    // (constant sketch state instead of shuffling every distinct tuple)
    // must PASS on the genuinely-unique o_orderkey within 3·rsd sketch
    // noise and must still FAIL on o_custkey (duplicated ~10×, far
    // beyond any sketch slack) — exact rule alongside as the control;
    // n_violations is sketch-valued so the gate pins the verdicts
    Gate("dq2_unique_approx", (s, d) => {
      import graft.operators.Quality
      Quality.check(Tables.orders(s, d), Seq(
        Quality.Unique(Seq("o_orderkey")),
        Quality.UniqueApprox(Seq("o_orderkey")),
        Quality.UniqueApprox(Seq("o_custkey"))))
        .select(col("rule"), col("n_rows"), col("pass"))
    },
      """SELECT * FROM (
           SELECT 'unique(o_orderkey)' AS rule,
             count(*) AS n_rows, true AS pass FROM orders
           UNION ALL SELECT 'unique_approx(o_orderkey)',
             count(*), true FROM orders
           UNION ALL SELECT 'unique_approx(o_custkey)',
             count(*), false FROM orders
         ) ORDER BY rule"""),
    // MAD robust outlier report: exact per-group median + MAD broadcast
    // back, Iglewicz–Hoaglin 3.5 cut — counts and robust stats pinned
    Gate("a31_mad_outliers", (s, d) => Outliers.madOutliers(Tables.events(s, d)),
      """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
           FROM events GROUP BY 1),
         d AS (SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS ad
           FROM events e JOIN m USING (event_type)),
         md AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM d GROUP BY 1),
         z AS (SELECT d.event_type, d.med, md.mad,
             CASE WHEN md.mad = 0 THEN 0
               ELSE 0.6745 * (d.value - d.med) / md.mad END AS zz
           FROM d JOIN md USING (event_type))
         SELECT event_type, count(*) AS cnt, round(max(med), 4) AS med,
           round(max(mad), 4) AS mad,
           count(CASE WHEN abs(zz) > 3.5 THEN 1 END) AS n_flagged,
           round(max(abs(zz)), 4) AS max_abs_score
         FROM z GROUP BY 1 ORDER BY event_type"""),
    // --- distribution drift (operators/Drift.scala) ---
    // exact two-sample KS between click and view value samples: one
    // data-sized count keyed by distinct value, CDFs via the two-pass
    // bucket prefix sum — supremum attained at a sample point, so exact
    Gate("dr1_ks_drift", (s, d) =>
      graft.operators.Drift.ksStatistic(Tables.events(s, d),
        "value", "event_type", "click", "view"),
      """WITH two AS (SELECT value AS v,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia,
           CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ib
           FROM events WHERE event_type IN ('click', 'view')
             AND value IS NOT NULL),
         bv AS (SELECT v, CAST(sum(ia) AS BIGINT) AS ca,
             CAST(sum(ib) AS BIGINT) AS cb FROM two GROUP BY 1),
         t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
             CAST(sum(cb) AS BIGINT) AS n_b FROM bv),
         c AS (SELECT sum(ca) OVER (ORDER BY v) AS cum_a,
             sum(cb) OVER (ORDER BY v) AS cum_b FROM bv)
         SELECT 'click' AS group_a, 'view' AS group_b, n_a, n_b,
           round(max(abs(cum_a / (1.0 * n_a) - cum_b / (1.0 * n_b))), 6)
             AS ks_stat
         FROM c, t GROUP BY 1, 2, 3, 4"""),
    // PSI of every source's n_chars histogram vs the src0 baseline over
    // 16 fixed-width global bins, Laplace-smoothed identically on both
    // sides — the scorecard drift monitor
    Gate("dr2_psi_drift", (s, d) =>
      graft.operators.Drift.psi(Tables.documents(s, d),
        "n_chars", "source", "src0", bins = 16),
      """WITH v AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS v
           FROM documents WHERE n_chars IS NOT NULL),
         mm AS (SELECT min(v) AS mn, max(v) AS mx FROM v),
         bn AS (SELECT g, CASE WHEN mx = mn THEN 0
             ELSE least(CAST(floor((v - mn) / ((mx - mn) / 16)) AS BIGINT), 15)
             END AS b FROM v, mm),
         c AS (SELECT g, b, count(*) AS n FROM bn GROUP BY 1, 2),
         grid AS (SELECT dg.g, gs.b FROM (SELECT DISTINCT g FROM c) dg,
           (SELECT unnest(range(0, 16)) AS b) gs),
         f AS (SELECT grid.g, grid.b, COALESCE(c.n, 0) AS n
           FROM grid LEFT JOIN c ON grid.g = c.g AND grid.b = c.b),
         t AS (SELECT g, sum(n) AS nt FROM f GROUP BY 1),
         p AS (SELECT f.g, f.b, (f.n + 0.5) / (t.nt + 8.0) AS p, t.nt
           FROM f JOIN t ON f.g = t.g),
         base AS (SELECT b, p AS pb FROM p WHERE g = 'src0')
         SELECT p.g AS source, CAST(max(nt) AS BIGINT) AS n,
           round(sum((p - pb) * ln(p / pb)), 6) AS psi
         FROM p JOIN base USING (b) WHERE p.g <> 'src0'
         GROUP BY 1 ORDER BY 1"""),
    // Pearson chi-square of source × lang independence with the full
    // r×c grid (zero-observed cells included via the marginal crossJoin)
    Gate("dr3_chisq_independence", (s, d) =>
      graft.operators.Drift.chiSquareIndependence(Tables.documents(s, d),
        "source", "lang"),
      """WITH o AS (SELECT source AS a, lang AS b, count(*) AS o
           FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
           GROUP BY 1, 2),
         ra AS (SELECT a, sum(o) AS na FROM o GROUP BY 1),
         cb AS (SELECT b, sum(o) AS nb FROM o GROUP BY 1),
         t AS (SELECT sum(o) AS n FROM o),
         cells AS (SELECT ra.a, cb.b, COALESCE(o.o, 0) AS o,
             (1.0 * na) * nb / n AS e, n
           FROM ra CROSS JOIN cb
           LEFT JOIN o ON o.a = ra.a AND o.b = cb.b
           CROSS JOIN t)
         SELECT CAST(max(n) AS BIGINT) AS n,
           CAST((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS BIGINT)
             AS dof,
           round(sum(pow(o - e, 2) / e), 4) AS chi2
         FROM cells"""),
    // mutual information + entropies + min-normalized MI between the
    // source and lang columns — the "how redundant are these two
    // dimensions" feature-selection readout; no grid completion (empty
    // cells contribute 0 ln 0 = 0)
    Gate("dr4_mutual_information", (s, d) =>
      graft.operators.Drift.mutualInformation(Tables.documents(s, d),
        "source", "lang"),
      """WITH o AS (SELECT source AS a, lang AS b, count(*) AS o
           FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
           GROUP BY 1, 2),
         t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM o),
         ra AS (SELECT a, sum(o) AS na FROM o GROUP BY 1),
         cb AS (SELECT b, sum(o) AS nb FROM o GROUP BY 1),
         ha AS (SELECT -sum((na / (1.0 * n)) * ln(na / (1.0 * n))) AS h_a
           FROM ra, t),
         hb AS (SELECT -sum((nb / (1.0 * n)) * ln(nb / (1.0 * n))) AS h_b
           FROM cb, t),
         mi AS (SELECT sum((o / (1.0 * n)) * ln((o / (1.0 * n))
             / ((na / (1.0 * n)) * (nb / (1.0 * n))))) AS mi
           FROM o JOIN ra USING (a) JOIN cb USING (b), t)
         SELECT n, round(mi, 6) AS mi, round(h_a, 6) AS h_a,
           round(h_b, 6) AS h_b,
           round(CASE WHEN least(h_a, h_b) > 0 THEN mi / least(h_a, h_b)
             ELSE 0 END, 6) AS nmi
         FROM t, ha, hb, mi"""),
    // single-pass column profiler (exact countDistinct → Expand, the
    // oracle-pinnable form; approx twin is the 100 TB path)
    Gate("pr1_column_profile", (s, d) =>
      graft.operators.Profile.columnProfile(Tables.orders(s, d),
          Seq("o_custkey", "o_orderpriority", "o_orderstatus", "o_totalprice"))
        .select(col("column"), col("n_rows"), col("n_null"), col("n_distinct"),
          round(col("min_num"), 4).as("min_num"),
          round(col("max_num"), 4).as("max_num"),
          col("min_str"), col("max_str")),
      """SELECT 'o_custkey' AS "column", count(*) AS n_rows,
           count(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_null,
           count(DISTINCT o_custkey) AS n_distinct,
           round(CAST(min(o_custkey) AS DOUBLE), 4) AS min_num,
           round(CAST(max(o_custkey) AS DOUBLE), 4) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
         FROM orders
         UNION ALL
         SELECT 'o_orderpriority', count(*),
           count(CASE WHEN o_orderpriority IS NULL THEN 1 END),
           count(DISTINCT o_orderpriority),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           min(o_orderpriority), max(o_orderpriority)
         FROM orders
         UNION ALL
         SELECT 'o_orderstatus', count(*),
           count(CASE WHEN o_orderstatus IS NULL THEN 1 END),
           count(DISTINCT o_orderstatus),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           min(o_orderstatus), max(o_orderstatus)
         FROM orders
         UNION ALL
         SELECT 'o_totalprice', count(*),
           count(CASE WHEN o_totalprice IS NULL THEN 1 END),
           count(DISTINCT o_totalprice),
           round(CAST(min(o_totalprice) AS DOUBLE), 4),
           round(CAST(max(o_totalprice) AS DOUBLE), 4),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
         FROM orders
         ORDER BY "column""""),
    // the profiler's 100 TB twin under contract: HLL distinct counts
    // must land within 3·rsd of the exact profile (t12/a27 pattern —
    // the oracle computes the exact side and DEMANDS the booleans)
    Gate("pr2_profile_approx", (s, d) => {
      val cols = Seq("o_custkey", "o_orderpriority", "o_orderstatus")
      val exact = graft.operators.Profile.columnProfile(Tables.orders(s, d), cols)
        .select(col("column"), col("n_rows"), col("n_null"),
          col("n_distinct").as("distinct_exact"))
      val approx = graft.operators.Profile
        .columnProfile(Tables.orders(s, d), cols, exact = false)
        .select(col("column"), col("n_distinct").as("distinct_approx"))
      exact.join(approx, "column")
        .select(col("column"), col("n_rows"), col("n_null"), col("distinct_exact"),
          (abs(col("distinct_approx") - col("distinct_exact"))
            <= greatest(col("distinct_exact") * 0.15, lit(2L)))
            .as("approx_within_bound"))
        .orderBy("column")
    },
      """SELECT 'o_custkey' AS "column", count(*) AS n_rows,
           count(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_null,
           count(DISTINCT o_custkey) AS distinct_exact,
           true AS approx_within_bound
         FROM orders
         UNION ALL
         SELECT 'o_orderpriority', count(*),
           count(CASE WHEN o_orderpriority IS NULL THEN 1 END),
           count(DISTINCT o_orderpriority), true
         FROM orders
         UNION ALL
         SELECT 'o_orderstatus', count(*),
           count(CASE WHEN o_orderstatus IS NULL THEN 1 END),
           count(DISTINCT o_orderstatus), true
         FROM orders
         ORDER BY "column""""),
    // grouped Theil–Sen robust trend over the monthly revenue series
    // per returnflag: pairwise slopes only at the calendar-bounded
    // aggregated tier, exact interpolating medians
    Gate("a50_theil_sen", (s, d) =>
      graft.ml.TheilSen.slopeByGroup(
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"),
            ((year(col("l_shipdate")) - 1995) * 12
              + month(col("l_shipdate")) - 1).as("mx"))
          .agg(avg(col("l_extendedprice")).as("my")),
        "l_returnflag", "mx", "my"),
      """WITH s AS (SELECT l_returnflag AS g,
           CAST((year(l_shipdate) - 1995) * 12 + month(l_shipdate) - 1
             AS DOUBLE) AS x,
           avg(l_extendedprice) AS y
           FROM lineitem GROUP BY 1, 2),
         sl AS (SELECT a.g, (b.y - a.y) / (b.x - a.x) AS s
           FROM s a JOIN s b ON a.g = b.g AND a.x < b.x),
         m AS (SELECT g, count(*) AS n_pairs, quantile_cont(s, 0.5) AS mm
           FROM sl GROUP BY 1),
         r AS (SELECT s.g, count(*) AS n_points, max(m.n_pairs) AS n_pairs,
             max(m.mm) AS mm, quantile_cont(s.y - m.mm * s.x, 0.5) AS bb
           FROM s JOIN m ON m.g = s.g GROUP BY 1)
         SELECT g AS l_returnflag, n_points, n_pairs,
           round(mm, 6) AS ts_slope, round(bb, 6) AS ts_intercept
         FROM r ORDER BY l_returnflag"""),
    // Mann-Kendall monotone-trend test with tie-corrected variance and
    // Kendall tau_b, over the same monthly series as a50 — the
    // significance companion to the Theil-Sen slope
    Gate("a51_mann_kendall", (s, d) =>
      graft.ml.MannKendall.testByGroup(
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"),
            ((year(col("l_shipdate")) - 1995) * 12
              + month(col("l_shipdate")) - 1).as("mx"))
          .agg(avg(col("l_extendedprice")).as("my")),
        "l_returnflag", "mx", "my"),
      """WITH s AS (SELECT l_returnflag AS g,
           CAST((year(l_shipdate) - 1995) * 12 + month(l_shipdate) - 1
             AS DOUBLE) AS x,
           avg(l_extendedprice) AS y
           FROM lineitem GROUP BY 1, 2),
         pr AS (SELECT a.g, sign(b.y - a.y) AS sg
           FROM s a JOIN s b ON a.g = b.g AND a.x < b.x),
         st AS (SELECT g, CAST(sum(sg) AS BIGINT) AS s_stat,
             count(*) AS n_pairs FROM pr GROUP BY 1),
         tg AS (SELECT g, y, count(*) AS t FROM s GROUP BY 1, 2),
         ti AS (SELECT g, sum(t * (t - 1) * (2 * t + 5)) AS tie_term,
             sum(t * (t - 1) / 2) AS tied_pairs,
             CAST(sum(t) AS BIGINT) AS n_points FROM tg GROUP BY 1),
         j AS (SELECT st.g, ti.n_points, st.s_stat,
             (CAST(ti.n_points AS DOUBLE) * (CAST(ti.n_points AS DOUBLE) - 1)
               * (2.0 * CAST(ti.n_points AS DOUBLE) + 5) - ti.tie_term)
               / 18.0 AS var_s,
             st.n_pairs, ti.tied_pairs
           FROM st JOIN ti ON ti.g = st.g)
         SELECT g AS l_returnflag, n_points, s_stat,
           round(var_s, 6) AS var_s,
           round(CASE WHEN s_stat > 0
               THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
             WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
             ELSE 0.0 END, 6) AS z,
           round(CAST(s_stat AS DOUBLE)
             / (sqrt(CAST(n_pairs AS DOUBLE))
               * sqrt(CAST(n_pairs - tied_pairs AS DOUBLE))), 6) AS tau_b
         FROM j ORDER BY l_returnflag"""),
    // equal-credit multi-touch attribution: purchases split value over
    // same-user touches in the trailing 3 days; untouched purchases
    // credit 'direct'
    Gate("at1_linear_attribution", (s, d) =>
      graft.operators.Attribution.linear(Tables.events(s, d),
        "event_id", "user_id", "ts", "event_type", "value",
        convType = "purchase", windowDays = 3),
      // linear multi-touch attribution with a 'direct' remainder bucket
      """WITH conv AS (SELECT event_id, user_id, ts, value FROM events
           WHERE event_type = 'purchase'),
         tch AS (SELECT user_id, ts, event_type FROM events
           WHERE event_type <> 'purchase'),
         pairs AS (SELECT c.event_id, c.value, t.event_type AS touch_type
           FROM conv c JOIN tch t ON c.user_id = t.user_id
             AND t.ts < c.ts AND t.ts >= c.ts - INTERVAL 3 DAY),
         cnt AS (SELECT event_id, count(*) AS n_touch FROM pairs GROUP BY 1),
         credited AS (SELECT p.touch_type, p.value / n.n_touch AS v
           FROM pairs p JOIN cnt n USING (event_id)),
         direct AS (SELECT 'direct' AS touch_type, value AS v FROM conv
           WHERE event_id NOT IN (SELECT event_id FROM cnt))
         SELECT touch_type, count(*) AS n_touches,
           round(sum(v), 4) AS attributed_value
         FROM (SELECT * FROM credited UNION ALL SELECT * FROM direct)
         GROUP BY 1 ORDER BY 1"""),
    // approximate-FD mining over (lang, source, length band): all 6
    // ordered pairs' confidences from one melt + self-join pass
    Gate("dq5_approx_fds", (s, d) =>
      graft.operators.Quality.approxFds(
        Tables.documents(s, d)
          .withColumn("band", floor(col("n_chars") / 500)),
        "doc_id", Seq("lang", "source", "band")),
      // per ordered pair: confidence = Σ_x max_y n(x,y) / N (TANE g3)
      {
      val cols = Seq("lang", "source", "band")
      val pairSql = (for {
        x <- cols; y <- cols if x != y
      } yield
        s"""SELECT '$x' AS det, '$y' AS dep, count(*) AS n_det_values,
             round(CAST(sum(mx) AS DOUBLE) / (SELECT n FROM nn), 6)
               AS confidence FROM
             (SELECT x, max(c) AS mx FROM
               (SELECT $x AS x, $y AS y, count(*) AS c FROM d GROUP BY 1, 2)
              GROUP BY 1)""").mkString(" UNION ALL ")
      s"""WITH d AS (SELECT lang, source,
             CAST(floor(n_chars / 500) AS BIGINT) AS band FROM documents),
         nn AS (SELECT count(*) AS n FROM d)
         $pairSql ORDER BY det, dep"""
    })
  )
}
